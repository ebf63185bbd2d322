"""Text-analysis operators for LLM training-data pipelines [NORTH-STAR]:
quality stats, token counting, language ID, document fingerprinting.

Everything is built-in string/array/higher-order functions — map-side,
zero shuffle except final aggregations, zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..functions import hashing as H
from ..functions.deterministic import dsum, sql_dsum
from ..functions.ranking import range_prefix_sum, ranked_topk, ranked_topk_per
from ..memos import Memo
from ..registry import register

# A small shared stopword lexicon (per-language) for lang-ID scoring and
# stopword-ratio quality signals.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

FP_P = H.P  # fingerprint modulus (same prime family as the sketches)


@register(
    "text_stats",
    oracle="""
SELECT doc_id,
       lang,
       length(text) AS n_chars_m,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
       CAST(list_sum(list_transform(string_split(text, ' '), w -> len(w))) AS BIGINT)
         * 1.0 / len(string_split(text, ' ')) AS avg_token_len,
       len(list_filter(string_split(text, ' '),
                       w -> w IN ('the','a','and','of','to','in','is','on','for','with')))
         * 1.0 / len(string_split(text, ' ')) AS stopword_ratio,
       len(list_distinct(string_split(text, ' ')))
         * 1.0 / len(string_split(text, ' ')) AS ttr
FROM documents
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats: char/token/unique counts, mean token
    length, stopword ratio, type-token ratio.

    These are the standard pre-training quality filters (cf. C4/Gopher
    rules): all integer counts + deterministic int/int double divisions.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("bigint")
    n_uniq = F.size(F.array_distinct(words)).cast("bigint")
    total_len = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("bigint")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("n_chars_m"),
        n.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        (total_len * F.lit(1.0) / n).alias("avg_token_len"),
        (n_stop * F.lit(1.0) / n).alias("stopword_ratio"),
        (n_uniq * F.lit(1.0) / n).alias("ttr"),
    )


@register(
    "text_quality_filter",
    oracle="""
WITH stats AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' ')))
           * 1.0 / len(string_split(text, ' ')) AS ttr
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE n_tokens >= 40 AND ttr >= 0.3) AS n_kept,
       COUNT(*) FILTER (WHERE n_tokens < 40) AS n_too_short,
       COUNT(*) FILTER (WHERE n_tokens >= 40 AND ttr < 0.3) AS n_repetitive
FROM stats
GROUP BY source
""",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate funnel per source: kept vs rejected (too-short /
    repetitive) — the shape of a corpus-curation report at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words).cast("bigint")
    ttr = F.size(F.array_distinct(words)) * F.lit(1.0) / n
    stats = d.select("doc_id", "source", n.alias("n_tokens"), ttr.alias("ttr"))
    kept = (F.col("n_tokens") >= 40) & (F.col("ttr") >= 0.3)
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum((F.col("n_tokens") < 40).cast("long")).alias("n_too_short"),
        F.sum(((F.col("n_tokens") >= 40) & (F.col("ttr") < 0.3)).cast("long")).alias(
            "n_repetitive"
        ),
    )


@register(
    "text_token_count_bpe",
    oracle="""
SELECT source,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS whitespace_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS bpeish_tokens,
       CAST(SUM(CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT)) AS BIGINT) AS char4_tokens
FROM documents
GROUP BY source
""",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting three ways: whitespace, BPE-ish regex
    (letter-runs / digit-runs / other), and the chars/4 heuristic —
    the budget arithmetic of training-data pipelines."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    bpeish = F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
    char4 = F.ceil(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / 4.0)
    return d.groupBy("source").agg(
        F.sum(F.size(words)).alias("whitespace_tokens"),
        F.sum(F.size(bpeish)).alias("bpeish_tokens"),
        F.sum(char4).cast("bigint").alias("char4_tokens"),
    )


@register(
    "text_langid_heuristic",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the','a','and','of','to','in','is','on','for','with')))
           * 1.0 / len(string_split(text, ' ')) AS en_score
  FROM documents
)
SELECT lang AS labeled_lang,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE en_score >= 0.05) AS n_pred_en,
       CAST(SUM(CAST(en_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_en_score
FROM scored
GROUP BY lang
""",
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-lexicon hit ratio as an
    is-English score, reported against the labeled lang column.

    (Real lang-ID would use char n-gram profiles per language — same
    map-side shape, bigger lexicon broadcast.)
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    en_score = (
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
        * F.lit(1.0)
        / F.size(words)
    )
    scored = d.select("doc_id", "lang", en_score.alias("en_score"))
    return scored.groupBy(F.col("lang").alias("labeled_lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("en_score") >= 0.05).cast("long")).alias("n_pred_en"),
        (
            F.sum(F.col("en_score").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_en_score"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
WITH wp AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
)
SELECT doc_id,
       CAST(SUM(({H.sql_token_code('w')} % {FP_P}) * (((i - 1) % 16) + 1)) % {FP_P}
            AS BIGINT) AS fingerprint
FROM wp
GROUP BY doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling-hash document fingerprint (mod-prime
    integer arithmetic over portable token codes) — order-sensitive, unlike
    the bag-of-words hashes in dedup_exact."""
    d = load_table(spark, sf_dir, "documents")
    wp = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("i", "w")
    )
    term = (H.token_code(F.col("w")) % FP_P) * ((F.col("i") % 16) + 1)
    return wp.groupBy("doc_id").agg((F.sum(term) % FP_P).alias("fingerprint"))


MAX_EDIT_DIST = 3
_LEN_BAND = 4  # band width > MAX_EDIT_DIST ⇒ a close pair's bands differ ≤ 1


@register(
    "text_edit_distance_pairs",
    oracle="""
WITH vocab AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a,
       b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM vocab a JOIN vocab b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
""",
)
def text_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical value pairs by Levenshtein distance, vocabulary-first
    and length-blocked.

    The typo/variant-detection primitive. Scale path: collapse to the
    DISTINCT value vocabulary BEFORE any pairwise work (100 TB of rows
    usually hold a small vocabulary, and the distinct is one shuffle),
    then block by length band: dist ≤ 3 implies |len(a)−len(b)| ≤ 3, so
    with band = len div 4 a qualifying pair's bands differ by at most 1.
    One side explodes to {band−1, band, band+1}, the other keeps its own
    band, and the match is a shuffled EQUI-join on the band key — never an
    all-pairs BroadcastNestedLoopJoin (asserted in tests/test_plans.py).
    Each unordered pair matches exactly once (the b-side key is unique and
    the a-side's three keys are distinct), so no distinct() is needed.
    Both engines implement classic integer Levenshtein — exact parity; the
    threshold form prunes the DP early on the Spark side.
    """
    p = load_table(spark, sf_dir, "part")
    vocab = p.select("p_name").distinct()
    band = F.floor(F.length("p_name") / _LEN_BAND).cast("int")
    a = vocab.select(
        F.col("p_name").alias("name_a"),
        F.explode(F.array(band - 1, band, band + 1)).alias("blk"),
    )
    b = vocab.select(F.col("p_name").alias("name_b"), band.alias("blk"))
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist",
            F.levenshtein("name_a", "name_b", MAX_EDIT_DIST).cast("bigint"),
        )
        .filter(F.col("dist") >= 0)
        .select("name_a", "name_b", "dist")
    )


@register(
    "text_pii_redaction",
    oracle="""
WITH synth AS (
  SELECT doc_id,
         'contact user' || doc_id || '@mail-' || lang || '.example.com or call 555-01'
           || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' re: ' || text AS body
  FROM documents
),
red AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(body, '[a-z0-9._-]+@[a-z0-9.-]+\\.[a-z]+', '<EMAIL>', 'g'),
           '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS body
  FROM synth
)
SELECT doc_id,
       CAST(len(body) AS BIGINT) AS n_chars_redacted,
       CAST(len(regexp_extract_all(body, '<EMAIL>')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(body, '<PHONE>')) AS BIGINT) AS n_phones
FROM red
""",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing battery: regex redaction of email addresses and
    phone-shaped tokens, with per-doc redaction counts — the
    compliance-pass every training corpus goes through.

    The fixture corpus has no PII, so a deterministic synthetic contact
    line is prepended per doc (pure column math, keeps the check
    end-to-end meaningful). Patterns stay in the RE2 ∩ Java-regex common
    subset so Spark and DuckDB agree byte-for-byte. Map-side only — no
    shuffle, scales as a pure scan like every per-row text op.
    """
    d = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail-"),
        F.col("lang"),
        F.lit(".example.com or call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" re: "),
        F.col("text"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            body, F.lit(r"[a-z0-9._-]+@[a-z0-9.-]+\.[a-z]+"), F.lit("<EMAIL>")
        ),
        F.lit(r"\b[0-9]{3}-[0-9]{4}\b"),
        F.lit("<PHONE>"),
    )
    n_tag = lambda c, tag: (F.size(F.split(c, tag, -1)) - 1).cast("bigint")  # noqa: E731
    return d.select("doc_id", red.alias("body")).select(
        "doc_id",
        F.length("body").cast("bigint").alias("n_chars_redacted"),
        n_tag(F.col("body"), "<EMAIL>").alias("n_emails"),
        n_tag(F.col("body"), "<PHONE>").alias("n_phones"),
    )


@register(
    "text_rarest_terms",
    oracle="""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
df AS (SELECT w, COUNT(*) AS doc_freq FROM dw GROUP BY w),
ranked AS (
  SELECT dw.doc_id, dw.w AS term, df.doc_freq,
         ROW_NUMBER() OVER (PARTITION BY dw.doc_id
                            ORDER BY df.doc_freq, dw.w) AS rnk
  FROM dw JOIN df USING (w)
)
SELECT doc_id, term, CAST(doc_freq AS BIGINT) AS doc_freq, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 5
""",
)
def text_rarest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most *distinctive* (rarest-in-corpus) terms per document —
    the TF-IDF shape with integer-only ranking (document frequency asc,
    term asc), so both engines agree exactly without comparing float idf.

    Scale shape: distinct (doc, term) is one shuffle; the document-
    frequency table is vocabulary-sized → broadcast for the join-back;
    per-doc window sorts ≤ |doc terms| rows. At 100 TB the df table may
    exceed broadcast size → the join falls back to shuffle-on-term, which
    AQE decides from runtime stats; nothing else changes.
    """
    d = load_table(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    df_tab = dw.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    return ranked_topk_per(
        dw.join(F.broadcast(df_tab), "term"),
        ["doc_id"], ["doc_freq", "term"], 5, rk_col="rnk", rk_cast="bigint",
    ).select("doc_id", "term", "doc_freq", "rnk")


@register(
    "text_repetition_quality",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
tok_counts AS (
  SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w
),
tok_stats AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(MAX(c) AS BIGINT) AS top_tok,
         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_toks
  FROM tok_counts GROUP BY doc_id
),
bigrams AS (
  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS bg
  FROM (SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents)
),
bg_counts AS (
  SELECT doc_id, bg, COUNT(*) AS c FROM bigrams WHERE bg IS NOT NULL
  GROUP BY doc_id, bg
),
bg_stats AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(MAX(c) AS BIGINT) AS top_bg
  FROM bg_counts GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_tokens,
       t.dup_toks * 1.0 / t.n_tokens AS dup_token_frac,
       t.top_tok * 1.0 / t.n_tokens AS top_token_frac,
       b.top_bg * 1.0 / b.n_bigrams AS top_bigram_frac,
       (t.dup_toks * 1.0 / t.n_tokens < 0.9
        AND t.top_tok * 1.0 / t.n_tokens < 0.2
        AND b.top_bg * 1.0 / b.n_bigrams < 0.18) AS passes_repetition_gate
FROM tok_stats t JOIN bg_stats b USING (doc_id)
""",
)
def text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: fraction of
    tokens that are repeats, most-frequent-token fraction, and
    most-frequent-bigram fraction, plus the combined keep/drop gate.

    Scale shape: one explode of the corpus into (doc, token) rows — linear
    in corpus size — then two hash aggregations keyed on doc_id (token
    counts, then per-doc max/sum), which co-partition: after the first
    shuffle on (doc_id, w), the per-doc rollup is map-side because
    doc_id is a prefix of the grouping key. Bigrams reuse the same
    exploded stream via a zip of the token array with its tail — no
    second pass over the raw text. All ratios are single BIGINT/BIGINT
    divisions (deterministic across engines).
    """
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    words = F.split(F.col("text"), " ")
    # bigram i = words[i] + ' ' + words[i+1]: zip the array with its tail
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )

    tok_counts = (
        d.select("doc_id", F.explode(words).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.max("c").cast("bigint").alias("top_tok"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("dup_toks"),
    )
    bg_counts = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg_stats = bg_counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.max("c").cast("bigint").alias("top_bg"),
    )

    dup_frac = F.col("dup_toks") * 1.0 / F.col("n_tokens")
    top_tok_frac = F.col("top_tok") * 1.0 / F.col("n_tokens")
    top_bg_frac = F.col("top_bg") * 1.0 / F.col("n_bigrams")
    return (
        tok_stats.join(bg_stats, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            dup_frac.alias("dup_token_frac"),
            top_tok_frac.alias("top_token_frac"),
            top_bg_frac.alias("top_bigram_frac"),
            (
                (dup_frac < 0.9) & (top_tok_frac < 0.2) & (top_bg_frac < 0.18)
            ).alias("passes_repetition_gate"),
        )
    )


CHUNK_LEN = 120
CHUNK_STRIDE = 90


@register(
    "text_chunking",
    oracle=f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1, GREATEST(length(text), 1), {CHUNK_STRIDE}))
           AS start_pos
  FROM documents
)
SELECT doc_id,
       CAST((start_pos - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(start_pos AS BIGINT) AS start_pos,
       substring(text, start_pos, {CHUNK_LEN}) AS chunk,
       CAST(length(substring(text, start_pos, {CHUNK_LEN})) AS BIGINT) AS chunk_len
FROM starts
""",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (len 120, stride 90 → 30-char
    overlap) with provenance offsets — the retrieval/embedding prep step.

    Scale shape: `sequence()` + `explode` is map-side row generation
    (~n_chars/stride rows per doc, no shuffle at all); `substring` on the
    original text column avoids materializing token arrays. Both engines
    use identical 1-based, length-clamped substring semantics.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length("text"), F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.substring(F.col("text"), F.col("start_pos"), CHUNK_LEN)
    return (
        d.select("doc_id", "text", F.explode(starts).alias("start_pos"))
        .select(
            "doc_id",
            (((F.col("start_pos") - 1) / CHUNK_STRIDE).cast("bigint")).alias(
                "chunk_idx"
            ),
            F.col("start_pos").cast("bigint").alias("start_pos"),
            chunk.alias("chunk"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
        )
    )


@register(
    "text_token_histogram",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT CAST(length(w) AS BIGINT) AS token_len,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_tokens
FROM toks
GROUP BY length(w)
""",
)
def text_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length histogram with per-length distinct-token
    counts — the tokenizer-budget profile (mean token length drives the
    chars-per-token ratio every training-cost estimate hangs on).

    Scale shape: explode (linear) → groupBy on a ~30-value key with
    map-side partial aggregation; COUNT(DISTINCT) expands only within
    each tiny length group. No skew risk at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("w"))
    return toks.groupBy(
        F.length("w").cast("bigint").alias("token_len")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("w").cast("bigint").alias("n_distinct_tokens"),
    )


@register(
    "text_boilerplate_chunks",
    oracle=f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1, GREATEST(length(text), 1), {CHUNK_STRIDE}))
           AS start_pos
  FROM documents
),
chunks AS (
  SELECT doc_id, md5(substring(text, start_pos, {CHUNK_LEN})) AS chunk_hash
  FROM starts
),
dist AS (SELECT DISTINCT doc_id, chunk_hash FROM chunks)
SELECT chunk_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM dist
GROUP BY chunk_hash
HAVING COUNT(*) > 1
""",
)
def text_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection at sub-document granularity:
    chunk every document (same 120/90 windows as text_chunking), hash each
    chunk, and report hashes appearing in MORE THAN ONE document — the
    shared headers/footers/license-block detector that document-level
    dedup cannot see.

    Scale shape: map-side chunk+hash (no text shuffles — only 32-char
    hashes), one distinct on (doc, hash), one count aggregation. The
    HAVING keeps the output to actual boilerplate, which is tiny relative
    to the corpus at any scale.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    chunks = d.select(
        "doc_id", F.explode(starts).alias("start_pos"), "text"
    ).select(
        "doc_id",
        F.md5(F.substring(F.col("text"), F.col("start_pos"), CHUNK_LEN)).alias(
            "chunk_hash"
        ),
    )
    return (
        chunks.distinct()
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# Blocklist for the C4-style lexicon gate. The fixture vocabulary is
# synthetic, so the "bad" terms are ordinary tokens — the MACHINERY
# (broadcast lexicon, map-side array intersection, per-source funnel) is
# what carries to a real blocklist of any size.
BLOCKLIST = ("slow", "error", "dup")


@register(
    "text_blocklist_gate",
    oracle=f"""
WITH hits AS (
  SELECT doc_id, source,
         len(list_intersect(list_distinct(string_split(text, ' ')),
                            {list(BLOCKLIST)})) AS n_blocked_terms,
         len(list_filter(string_split(text, ' '),
                         w -> list_contains({list(BLOCKLIST)}, w)))
           AS n_blocked_tokens,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT doc_id, source,
       CAST(n_blocked_terms AS BIGINT) AS n_blocked_terms,
       CAST(n_blocked_tokens AS BIGINT) AS n_blocked_tokens,
       CAST(n_blocked_tokens AS DOUBLE) / n_tokens AS blocked_frac,
       CAST(n_blocked_tokens AS DOUBLE) / n_tokens < 0.05 AS passes_gate
FROM hits
""",
)
def text_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style lexicon gate: per document, how many distinct blocklist
    terms appear, what fraction of tokens are blocked, and whether the
    doc passes the < 5% threshold — the word-filter step of web-corpus
    curation.

    Scale shape: the lexicon ships as a literal array inside the plan
    (broadcast-by-construction; a real multi-thousand-term list would be
    a broadcast join against the exploded token stream instead — same
    cost class as text_rarest_terms). Everything here is map-side array
    HOF math over one corpus scan: no explode, no shuffle, no join.
    """
    d = load_table(spark, sf_dir, "documents")
    block = F.array(*[F.lit(t) for t in BLOCKLIST])
    words = F.split(F.col("text"), " ")
    n_terms = F.size(F.array_intersect(F.array_distinct(words), block))
    n_toks = F.size(F.filter(words, lambda w: F.array_contains(block, w)))
    frac = n_toks.cast("double") / F.size(words)
    return d.select(
        "doc_id",
        "source",
        n_terms.cast("bigint").alias("n_blocked_terms"),
        n_toks.cast("bigint").alias("n_blocked_tokens"),
        frac.alias("blocked_frac"),
        (frac < 0.05).alias("passes_gate"),
    )


PREFIX_W = 16  # tokens in the prefix fingerprint


@register(
    "text_prefix_dup_groups",
    oracle=f"""
WITH pre AS (
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' ')[1:{PREFIX_W}], ' '))
           AS prefix_hash
  FROM documents
  WHERE len(string_split(text, ' ')) >= {PREFIX_W}
)
SELECT prefix_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM pre
GROUP BY prefix_hash
HAVING COUNT(*) > 1
""",
)
def text_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix duplicate groups: documents whose first 16 tokens are
    identical — the mirror-page / templated-intro detector (crawls are
    full of pages that diverge only after a boilerplate opening, which
    whole-document hashing misses and pairwise Jaccard prices at full
    cost).

    Scale shape: prefix slice + hash are map-side (the fingerprint is 32
    chars regardless of document size — the cheapest possible dedup
    key); one hash aggregation; HAVING keeps only actual groups, which
    shrink the output to the duplicated remainder.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    pre = d.filter(F.size(words) >= PREFIX_W).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(words, 1, PREFIX_W))).alias(
            "prefix_hash"
        ),
    )
    return (
        pre.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


TFIDF_SCALE = 10000  # integer idf scale: weight = tf * floor(SCALE / df)
TFIDF_DF_CAP = 64  # terms in more docs than this are candidate-join noise
TFIDF_TOP = 20


@register(
    "text_tfidf_cosine_pairs",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
wt AS (
  SELECT t.doc_id, t.w, d.df,
         t.tf * CAST(FLOOR({TFIDF_SCALE}.0 / d.df) AS BIGINT) AS wgt
  FROM tf t JOIN dfreq d USING (w)
  WHERE d.df <= {TFIDF_DF_CAP}
),
norms AS (
  SELECT doc_id, CAST(SUM(wgt * wgt) AS BIGINT) AS n2 FROM wt GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.wgt * b.wgt) AS BIGINT) AS dot
  FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
  WHERE a.df >= 2
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, dot,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         AS cosine
FROM dots
JOIN norms na ON doc_a = na.doc_id
JOIN norms nb ON doc_b = nb.doc_id
ORDER BY cosine DESC, doc_a, doc_b
LIMIT {TFIDF_TOP}
""",
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity: the top-20 most similar document
    pairs under integer-scaled tf-idf weights (weight = tf ·
    ⌊10000/df⌋) over the rare-term vocabulary (df ≤ 64) — the
    bag-of-words complement to shingle Jaccard: it scores topical
    similarity, not copy similarity.

    Determinism: weights, dot products, and squared norms are EXACT
    BIGINT arithmetic; the only float ops are one sqrt per norm and one
    multiply+divide per pair — each correctly rounded in IEEE double on
    both engines, written in identical evaluation order.

    Scale shape: inverted-index sparse algebra — tf is one hash agg over
    the token explode, df one more, the dot-product join touches only
    postings of terms with 2 ≤ df ≤ 64 (bounded per-term fan-out, the
    sparse analogue of the LSH bucket cap); norms include df=1 terms via
    a separate linear aggregate. Top-k compiles to
    TakeOrderedAndProject. No dense vectors, no n² anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    wt = (
        tf.join(dfreq, "w")
        .filter(F.col("df") <= TFIDF_DF_CAP)
        .select(
            "doc_id",
            "w",
            "df",
            (
                F.col("tf")
                * F.floor(F.lit(float(TFIDF_SCALE)) / F.col("df")).cast("long")
            ).alias("wgt"),
        )
    )
    # weight table feeds three consumers (norms + both join sides) —
    # materialize the token-explode subtree once.
    wt = wt.localCheckpoint()
    norms = wt.groupBy("doc_id").agg(
        F.sum(F.col("wgt") * F.col("wgt")).cast("bigint").alias("n2")
    )
    a = wt.filter(F.col("df") >= 2).select(
        F.col("doc_id").alias("doc_a"), "w", F.col("wgt").alias("wa")
    )
    b = wt.select(F.col("doc_id").alias("doc_b"), "w", F.col("wgt").alias("wb"))
    dots = (
        a.join(b, "w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "dot", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(TFIDF_TOP)
    )


TOP_BIGRAMS = 20


@register(
    "corpus_top_bigrams",
    oracle=f"""
WITH wp AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
),
big AS (
  SELECT doc_id, w || ' ' || LEAD(w) OVER win AS bg
  FROM wp
  WINDOW win AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w) OVER win IS NOT NULL
)
SELECT bg, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM big
GROUP BY bg
ORDER BY n_occurrences DESC, bg
LIMIT {TOP_BIGRAMS}
""",
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top word bigrams with occurrence and document
    frequencies — the collocation report behind boilerplate discovery
    and tokenizer-merge candidates (frequent pairs are exactly what BPE
    merges first).

    Scale shape: bigram generation is per-row array arithmetic (the
    shingle_docs construction WITHOUT the distinct, since occurrences
    count), one hash aggregation keyed by bigram with map-side partials,
    top-k via TakeOrderedAndProject. The bigram key space is bounded by
    corpus tokens, and skew is impossible to create here — the
    aggregate's value is two counters.
    """
    from ..catalog import spread

    # single-file fixture scan = one partition; spread so the explode +
    # map-side partial aggregation use all cores (same reason as
    # shingle_docs)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - 1)
    mk = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at(words, i), F.element_at(words, i + 1)
    )
    arr = F.when(n >= 2, F.transform(idx, mk)).otherwise(
        F.array().cast("array<string>")
    )
    big = d.select("doc_id", F.explode(arr).alias("bg"))
    return (
        big.groupBy("bg")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "bg")
        .limit(TOP_BIGRAMS)
    )


COVERAGE_LEVELS = (50, 90, 95, 99)  # percent of corpus token mass


@register(
    "corpus_vocab_coverage",
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS vocab FROM freq),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rn,
         SUM(cnt) OVER (ORDER BY cnt DESC, w
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM freq
)
SELECT lv.level_pct,
       MIN(r.rn) AS tokens_needed,
       (SELECT vocab FROM tot) AS vocab_size,
       (SELECT total FROM tot) AS total_tokens
FROM ranked r,
     (VALUES {", ".join(f"({v})" for v in COVERAGE_LEVELS)}) lv(level_pct)
WHERE r.cum * 100 >= lv.level_pct * (SELECT total FROM tot)
GROUP BY lv.level_pct
""",
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage curve of the corpus vocabulary: how many distinct
    tokens (rank-ordered by frequency) cover 50/90/95/99% of all token
    occurrences — the number that sizes a tokenizer vocabulary and
    predicts OOV rates before training one. The threshold test is exact
    integer arithmetic (cum·100 ≥ level·total), no float mass fractions.

    Scale shape: one token explode + hash aggregation to the vocab-grain
    frequency table (vocab ≪ corpus); the cumulative window runs over
    vocabulary rank — at 100 TB you'd bucket frequencies first
    (log-spaced histogram) and walk the ~100-bucket CDF instead, same
    output contract. Levels are a 4-row literal cross join.
    """
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = freq.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    w = Window.orderBy(F.col("cnt").desc(), "w")
    ranked = freq.select(
        F.row_number().over(w).alias("rn"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
    )
    levels = spark.createDataFrame(
        [(v,) for v in COVERAGE_LEVELS], "level_pct int"
    )
    return (
        ranked.crossJoin(F.broadcast(levels))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 100 >= F.col("level_pct") * F.col("total"))
        .groupBy("level_pct")
        .agg(
            F.min("rn").alias("tokens_needed"),
            F.max("vocab").alias("vocab_size"),
            F.max("total").alias("total_tokens"),
        )
    )


@register(
    "corpus_unigram_familiarity",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
  FROM documents
),
freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
per_doc AS (
  SELECT t.doc_id, t.lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(f.cnt) AS BIGINT) AS sum_cnt,
         CAST(COUNT(*) FILTER (WHERE f.cnt = 1) AS BIGINT) AS n_hapax
  FROM tok t JOIN freq f USING (w)
  GROUP BY t.doc_id, t.lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(sum_cnt) AS DOUBLE) / SUM(n_tokens) AS familiarity,
       CAST(SUM(n_hapax) AS DOUBLE) / SUM(n_tokens) AS hapax_frac,
       MIN(CAST(sum_cnt AS DOUBLE) / n_tokens) AS min_doc_familiarity,
       MAX(CAST(sum_cnt AS DOUBLE) / n_tokens) AS max_doc_familiarity
FROM per_doc
GROUP BY lang
""",
)
def corpus_unigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM familiarity scoring without transcendentals: a
    document's familiarity is the mean corpus frequency of its tokens
    (the exact-integer stand-in for unigram log-prob — same ranking
    signal, no `ln`, which has no cross-engine rounding guarantee; see
    profiling.py's entropy note). Low familiarity + high hapax fraction
    flags boilerplate-free but possibly garbled text; the per-lang
    rollup is the quality dashboard a corpus curator reads before
    setting filter thresholds.

    Determinism: every aggregate is a BIGINT sum; the only divisions are
    BIGINT/BIGINT -> DOUBLE (correctly rounded in one step in both
    engines), and MIN/MAX over identical doubles are order-insensitive.

    Scale shape: one explode -> (token) hash agg for the frequency
    table, one explode -> join -> (doc) hash agg for per-doc sums, one
    tiny (lang) rollup. The frequency join shuffles on the token — at
    100 TB the head of the Zipf curve is skew-salted or the top-k hot
    tokens are broadcast as a map-side dictionary; the plan is otherwise
    scan-shaped with no pairwise work.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        tok.join(freq, "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("cnt").cast("bigint").alias("sum_cnt"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        (
            F.sum("sum_cnt").cast("double") / F.sum("n_tokens")
        ).alias("familiarity"),
        (
            F.sum("n_hapax").cast("double") / F.sum("n_tokens")
        ).alias("hapax_frac"),
        F.min(
            F.col("sum_cnt").cast("double") / F.col("n_tokens")
        ).alias("min_doc_familiarity"),
        F.max(
            F.col("sum_cnt").cast("double") / F.col("n_tokens")
        ).alias("max_doc_familiarity"),
    )


@register(
    "corpus_mix_waterfill",
    oracle="""
WITH tok AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM tok
),
r AS (
  SELECT source, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS rk,
         SUM(n_tokens) OVER (ORDER BY n_tokens, source
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM tok
),
f AS (
  SELECT r.source, r.n_tokens, r.rk, r.cum, t.budget, t.n,
         CASE WHEN r.cum + (t.n - r.rk) * r.n_tokens <= t.budget
              THEN 1 ELSE 0 END AS unc
  FROM r, tot t
),
k AS (
  SELECT CAST(SUM(unc) AS BIGINT) AS kk,
         CAST(COALESCE(SUM(CASE WHEN unc = 1 THEN n_tokens END), 0)
              AS BIGINT) AS ss
  FROM f
),
cap AS (
  SELECT CASE WHEN k.kk >= t.n THEN NULL
              ELSE (t.budget - k.ss) // (t.n - k.kk) END AS cap
  FROM k, tot t
)
SELECT f.source, f.n_tokens,
       CAST(CASE WHEN cap.cap IS NULL THEN f.n_tokens
                 ELSE LEAST(f.n_tokens, cap.cap) END AS BIGINT)
         AS allocated_tokens,
       (cap.cap IS NOT NULL AND f.n_tokens > cap.cap) AS is_capped
FROM f, cap
""",
)
def corpus_mix_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing token allocation across sources by exact integer
    waterfill — the budgeting step of every large-scale pre-training
    recipe: given a token budget (here total//2, derived from the corpus
    so both engines compute it identically), take each source in full
    until a common per-source cap binds, i.e. allocate
    min(n_tokens, cap) with cap chosen so the allocations fill the
    budget. Small sources are never starved (uniform caps only bind on
    the heavy tail), which is why waterfill rather than proportional
    scaling is the standard mixing rule when one crawl dwarfs the
    curated sources.

    The cap is found in ONE window pass, no iteration: sort sources
    ascending by size — source at rank r is uncapped iff taking ranks
    1..r in full and capping the rest at s_r fits the budget
    (cum_r + (n-r)·s_r <= T; this expression is nondecreasing in r, so
    the uncapped set is a prefix). With K uncapped sources of total S,
    cap = (T - S) DIV (n - K). All arithmetic is BIGINT with integer
    division — bit-exact across engines, no float thresholds.

    Scale shape: one groupBy(source) token count (map-side combine),
    one window over |sources| rows (thousands at worst — a broadcast-
    scale table), two scalar aggregates cross-joined back. The corpus
    is read once; at 100 TB the allocation plan is computed in
    milliseconds from the source-stats table and drives the downstream
    per-source sampling gates (sampling.py).
    """
    alloc = _waterfill_capacities(
        spark, sf_dir, capacity=F.col("n_tokens"), budget_expr="sum(n_tokens) DIV 2"
    )
    return alloc.select(
        "source",
        "n_tokens",
        F.col("allocated").alias("allocated_tokens"),
        "is_capped",
    )


def _waterfill_capacities(
    spark: SparkSession, sf_dir: str, capacity, budget_expr: str
) -> DataFrame:
    """Shared exact-integer waterfill over per-source capacities.

    Tokenizes `documents` per source, assigns each source a `capacity`
    column expression (waterfill: its own n_tokens; UniMax: E x
    n_tokens) and a BIGINT `budget_expr` over n_tokens, then allocates
    min(capacity, cap) with the uniform cap found in ONE window pass
    (sort by capacity ascending; rank r is uncapped iff
    cum_r + (n - r) * cap_r <= budget, a nondecreasing predicate, so
    the uncapped set is a prefix; cap = (budget - S_unc) DIV (n - K)).
    Returns (source, n_tokens, capacity, allocated, is_capped).

    The allocation tree reads tok from four branches (ranking, total,
    uncapped-prefix aggregate, final select); without materialization
    Spark re-runs the corpus scan + groupBy per branch (plan audit:
    8 exchanges). tok is |sources| rows — checkpoint it once and every
    branch reads the tiny table; the corpus is scanned exactly once.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("bigint")
            .alias("n_tokens")
        )
        .withColumn("capacity", capacity.cast("bigint"))
        .localCheckpoint()
    )
    tot = tok.agg(
        # DIV, not /: true division goes through double and a cast, which
        # diverges from DuckDB's integer // once totals pass 2^53
        F.expr(budget_expr).cast("bigint").alias("budget"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy("capacity", "source")
    r = tok.select(
        "source",
        "n_tokens",
        "capacity",
        F.row_number().over(w).alias("rk"),
        F.sum("capacity").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    f = r.crossJoin(F.broadcast(tot)).withColumn(
        "unc",
        (
            F.col("cum") + (F.col("n") - F.col("rk")) * F.col("capacity")
            <= F.col("budget")
        ).cast("int"),
    )
    k = f.agg(
        F.sum("unc").cast("bigint").alias("kk"),
        F.coalesce(
            F.sum(F.when(F.col("unc") == 1, F.col("capacity"))), F.lit(0)
        )
        .cast("bigint")
        .alias("ss"),
    )
    cap = (
        k.crossJoin(F.broadcast(tot))
        .select(
            F.when(F.col("kk") >= F.col("n"), F.lit(None).cast("bigint"))
            .otherwise(
                F.expr("(budget - ss) DIV (n - kk)").cast("bigint")
            )
            .alias("cap")
        )
    )
    return f.crossJoin(F.broadcast(cap)).select(
        "source",
        "n_tokens",
        "capacity",
        F.when(F.col("cap").isNull(), F.col("capacity"))
        .otherwise(F.least(F.col("capacity"), F.col("cap")))
        .cast("bigint")
        .alias("allocated"),
        (F.col("cap").isNotNull() & (F.col("capacity") > F.col("cap"))).alias(
            "is_capped"
        ),
    )


CHUNK_DUP_CAP = 64  # hot-chunk cap, same rationale as dedup.PAIR_BUCKET_CAP


@register(
    "text_chunk_dup_spans",
    oracle=f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1, GREATEST(length(text), 1), {CHUNK_STRIDE}))
           AS start_pos
  FROM documents
),
ch AS (
  SELECT DISTINCT doc_id, md5(substring(text, start_pos, {CHUNK_LEN})) AS h
  FROM starts
  WHERE length(substring(text, start_pos, {CHUNK_LEN})) = {CHUNK_LEN}
),
cool AS (SELECT h FROM ch GROUP BY h HAVING COUNT(*) <= {CHUNK_DUP_CAP})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_chunks
FROM ch a JOIN ch b ON a.h = b.h AND a.doc_id < b.doc_id
WHERE a.h IN (SELECT h FROM cool)
GROUP BY 1, 2
""",
)
def text_chunk_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granular duplicate spans: document pairs sharing identical
    full-width chunks (the 120-char stride-90 chunks of text_chunking,
    hashed) — the SUB-document dedup view that doc-level Jaccard and
    containment both miss when two long documents share one lifted
    passage but differ elsewhere. Modern pre-training dedup operates at
    exactly this granularity (drop or down-weight the repeated span,
    keep both documents), and n_shared_chunks is the span-mass signal
    that decision needs.

    Only full-length chunks participate (a short trailing fragment
    matches too easily), and chunks shared by more than CHUNK_DUP_CAP
    docs are dropped as boilerplate — the same hot-bucket cap rule as
    the shingle index, mirrored in the oracle so the cap semantics stay
    checked.

    Scale shape: chunk hashes via one map-side pass (sequence+substring
    +md5, no token arrays), then a groupBy(hash) inverted index with
    collect_list pair fan-out — bounded at cap² per bucket, never a
    corpus self-join; the feeding subtree is computed once, not per
    join side.
    """
    from ..catalog import spread
    from .dedup import _pairs_from_groups

    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length("text"), F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.substring(F.col("text"), F.col("start_pos"), CHUNK_LEN)
    ch = (
        d.select("doc_id", "text", F.explode(starts).alias("start_pos"))
        .filter(F.length(chunk) == CHUNK_LEN)
        .select("doc_id", F.md5(chunk).alias("h"))
        .distinct()
    )
    grouped = (
        ch.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        _pairs_from_groups(grouped, cap=CHUNK_DUP_CAP)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_chunks"))
    )


# --- BM25 ranked retrieval -------------------------------------------------

# Fixed multi-term query for the registered proof (terms chosen from the
# fixture vocabulary with spread document frequencies).
BM25_TERMS = ("spark", "join", "window", "stream", "filter")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# Shared BM25 CTE chain ending in `agg(doc_id, bm25, n_terms)` — composed by
# the top-k query and the PRF expansion (which re-ranks from the same list).
_SQL_BM25_CTE = f"""tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dl
),
tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, w
),
dfq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
term_scores AS (
  SELECT t.doc_id,
         ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
            / (CAST(f.df AS DOUBLE) + 0.5))
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))))) AS ts
  FROM tf t JOIN dfq f USING (w) JOIN dl l USING (doc_id) CROSS JOIN stats s
),
agg AS (
  SELECT doc_id,
         CAST(SUM(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) AS bm25,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM term_scores GROUP BY doc_id
)"""


_POSTINGS = Memo("text_postings")
_DL_STATS = Memo("text_dl_stats")


def _postings_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregated postings table ``(doc_id, w, tf)``, materialized
    once per (app, sf_dir) and shared by the whole lexical-retrieval
    family (BM25 top-k / PRF / expanded / champion lists / MLT / fuzzy /
    rank_feature / dis_max). This IS the inverted-index build a search
    engine persists at 100 TB — one token-grain corpus pass, then every
    query touches only its terms' postings. Charged cold to the bench's
    ``memo_build_text_postings`` row."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return (
            spread(d)
            .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
            .groupBy("doc_id", "w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            # spread BEFORE the checkpoint: AQE coalesces the small
            # groupBy output to ONE partition, which would serialize
            # every downstream consumer (the per-doc dl aggregate and
            # the per-posting BM25 math of ~20 retrieval queries) on a
            # single core; checkpointing at full parallelism makes each
            # warm read start wide (guide §2.5 — parallelism for
            # compute, not bytes).
            .transform(spread)
            .localCheckpoint()
        )

    return _POSTINGS.get(spark, sf_dir, build)


def _dl_stats_memo(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(dl, stats): the per-doc length table ``(doc_id, dl)`` and the
    1-row corpus stats ``(n_docs, sum_dl)``, materialized once per
    (app, sf_dir). Every BM25-family query uses ``dl`` on TWO plan
    branches (the per-doc scoring join and the stats aggregate), so
    un-memoized each query would re-run the postings-table aggregate
    twice per execution. These are index-time statistics — at 100 TB
    they are persisted next to the postings, exactly like Lucene's
    norms/sumTotalTermFreq. dl = SUM(tf) per doc is integer-identical
    to counting the raw token stream, so downstream scores are
    unchanged bit-for-bit. The postings table is the entry's parent:
    a postings rebuild forces a dl/stats rebuild, so the two always
    describe the same corpus."""
    parent = _postings_memo(spark, sf_dir)

    def build() -> tuple[DataFrame, DataFrame]:
        dl = (
            parent.groupBy("doc_id")
            .agg(F.sum("tf").alias("dl"))
            .localCheckpoint()
        )
        stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        ).localCheckpoint()
        return dl, stats

    return _DL_STATS.get(spark, sf_dir, build, parent=parent)


def _bm25_agg(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...]
) -> DataFrame:
    """Shared BM25 scoring core for a given query-term set: returns
    ``(doc_id, bm25, n_terms)`` — the DataFrame twin of `_SQL_BM25_CTE`'s
    ``agg`` relation (identical formula and evaluation order; the term
    filter is the only parameter). Used by the first-pass top-k and the
    PRF-expanded second pass."""
    # dl/stats/tf/df all derive from the shared postings memo — one
    # corpus pass per (app, sf_dir) for the entire retrieval family
    # (un-memoized, each consumer re-ran the documents scan — dis_max
    # audited at 8 scans. dl = per-doc tf sum is identical to the token
    # count, so every downstream integer is unchanged).
    tf_all = _postings_memo(spark, sf_dir)
    dl, stats = _dl_stats_memo(spark, sf_dir)
    tf = tf_all.filter(F.col("w").isin(*terms))
    dfq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))

    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    tfn = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tfn).alias("ts"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum(F.col("ts").cast("decimal(28,6)")).cast("double").alias("bm25"),
        F.count(F.lit(1)).alias("n_terms"),
    )


@register(
    "search_bm25_topk",
    oracle=f"""
WITH {_SQL_BM25_CTE}
SELECT doc_id, bm25, n_terms, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk FROM agg
) t WHERE rk <= {BM25_TOPK}
""",
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-10 documents for a fixed multi-term
    query — the lexical-search complement to text_tfidf_cosine_pairs
    (that one scores doc↔doc topical similarity; this one ranks docs
    against a query, the retrieval half of a RAG / dedup-by-retrieval
    pipeline).

    Determinism without transcendentals: the classic BM25 idf is
    ln((N-df+0.5)/(df+0.5)); ln is a libm call whose last ulp differs
    between the JVM and DuckDB, so this uses the raw-odds idf
    (N-df+0.5)/(df+0.5) — the SAME monotone ranking per term — and every
    remaining op (int→double casts, +, *, /) is an exactly-rounded IEEE
    double op, written in identical evaluation order in both dialects.
    The per-term score sum goes through DECIMAL(28,6) (order-free; scale
    6 keeps value·10^6 far below 2^53 so DuckDB's double-scaling cast
    agrees with Spark's exact BigDecimal conversion — see registry
    determinism rule 1).

    Scale shape: inverted-index retrieval — the term filter prunes the
    token explode to the query's postings before any shuffle; df/tf are
    hash aggs over those postings only; doc length (dl) is a corpus-wide
    agg but joins broadcast-side stats (n_docs, sum_dl) as one row. The
    final top-k compiles to TakeOrderedAndProject. At 100 TB the tf/dl
    tables are the persisted index; a query touches only its terms'
    postings — never the corpus.
    """
    agg = _bm25_agg(spark, sf_dir, BM25_TERMS)
    return ranked_topk(
        agg, [F.col("bm25").desc(), F.col("doc_id")], BM25_TOPK,
        rk_cast="bigint",
    )


@register(
    "corpus_mix_temperature",
    oracle="""
WITH tok AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget,
         CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,6)))
              AS DOUBLE) AS tot_w
  FROM tok
),
share AS (
  SELECT k.source, k.n_tokens, t.budget,
         (CAST(t.budget AS DOUBLE) * sqrt(CAST(k.n_tokens AS DOUBLE)))
           / t.tot_w AS share
  FROM tok k, tot t
),
base AS (
  SELECT source, n_tokens, budget,
         CAST(FLOOR(share) AS BIGINT) AS base,
         share - FLOOR(share) AS frac
  FROM share
),
rem AS (
  SELECT CAST(MAX(budget) - SUM(base) AS BIGINT) AS rem FROM base
)
SELECT b.source, b.n_tokens,
       CAST(b.base + CASE WHEN ROW_NUMBER() OVER (
                            ORDER BY b.frac DESC, b.source) <= r.rem
                          THEN 1 ELSE 0 END AS BIGINT) AS allocated_tokens,
       (b.base + CASE WHEN ROW_NUMBER() OVER (
                        ORDER BY b.frac DESC, b.source) <= r.rem
                      THEN 1 ELSE 0 END) > b.n_tokens AS is_upsampled
FROM base b, rem r
""",
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data mixing (T = 0.5): allocate the token
    budget across sources proportionally to n_tokens^T — the standard
    multilingual / multi-source rebalancing rule (small sources are
    upsampled relative to proportional sampling, large crawls
    downweighted) and the smooth complement to corpus_mix_waterfill's
    hard caps. Allocations may exceed a source's size — that IS the
    mechanism (an allocation of 1.7× a small source means ~1.7 epochs
    over it), flagged per-row as `is_upsampled`.

    T = 0.5 makes the weight sqrt(n_tokens): sqrt is correctly rounded
    in IEEE double on both engines (unlike pow/ln, which differ in the
    last ulp between the JVM and libm — same reasoning as
    search_bm25_topk's raw-odds idf). The weight total goes through
    DECIMAL(28,6) so the only order-sensitive sum is exact; shares are
    then one multiply + one divide in identical evaluation order, and
    the integer allocation uses largest-remainder rounding (floor each
    share, hand the leftover tokens to the largest fractional parts,
    ties by source) — Σ allocated == budget EXACTLY, bit-for-bit across
    engines.

    Scale shape: identical to waterfill — one corpus groupBy(source)
    with map-side combine, then all allocation math on the |sources|-row
    stats table (one broadcast scalar row, one window over sources).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("bigint")
            .alias("n_tokens")
        )
        .localCheckpoint()  # |sources| rows; corpus scanned exactly once
    )
    tot = tok.agg(
        F.expr("sum(n_tokens) DIV 2").cast("bigint").alias("budget"),
        F.sum(
            F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("tot_w"),
    )
    share = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "budget",
        (
            (
                F.col("budget").cast("double")
                * F.sqrt(F.col("n_tokens").cast("double"))
            )
            / F.col("tot_w")
        ).alias("share"),
    )
    base = share.select(
        "source",
        "n_tokens",
        "budget",
        F.floor("share").cast("bigint").alias("base"),
        (F.col("share") - F.floor("share")).alias("frac"),
    )
    rem = base.agg(
        (F.max("budget") - F.sum("base")).cast("bigint").alias("rem")
    )
    w = Window.orderBy(F.col("frac").desc(), F.col("source"))
    alloc = F.col("base") + F.when(
        F.row_number().over(w) <= F.col("rem"), F.lit(1)
    ).otherwise(F.lit(0))
    return base.crossJoin(F.broadcast(rem)).select(
        "source",
        "n_tokens",
        alloc.cast("bigint").alias("allocated_tokens"),
        (alloc > F.col("n_tokens")).alias("is_upsampled"),
    )


# Fixed phrase for the registered positional-search proof.
PHRASE = ("data", "stream")

_PHRASE_JOIN_SQL = " ".join(
    f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.i = p0.i + {i} "
    f"AND p{i}.w = '{w}'"
    for i, w in enumerate(PHRASE)
    if i > 0
)


@register(
    "search_phrase_positional",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
)
SELECT p0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM pos p0 {_PHRASE_JOIN_SQL}
WHERE p0.w = '{PHRASE[0]}'
GROUP BY p0.doc_id
""",
)
def search_phrase_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over a positional inverted index: documents
    containing the phrase, with occurrence counts — the third retrieval
    member next to BM25 (ranked bag-of-words) and TF-IDF pairs
    (doc↔doc). A phrase hit is a chain of adjacent postings: term k of
    the phrase at position i+k for each k, expressed as k-1 equi-joins
    on (doc_id, position) — all-integer, bit-exact.

    Scale shape: each join side filters to ONE term's postings before
    any shuffle (predicate pushdown to the token explode — the plan
    never self-joins the full positional index), so join input is the
    postings mass of the phrase's terms, exactly like a search engine's
    positional-list intersection. At 100 TB the (w, doc_id, i) table is
    the persisted positional index, partitioned by term.
    """
    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    )
    out = (
        pos.filter(F.col("w") == PHRASE[0])
        .select("doc_id", F.col("i").alias("i0"))
    )
    for k, term in enumerate(PHRASE):
        if k == 0:
            continue
        nxt = pos.filter(F.col("w") == term).select(
            F.col("doc_id").alias(f"d{k}"), F.col("i").alias(f"i{k}")
        )
        out = out.join(
            nxt,
            (F.col(f"d{k}") == F.col("doc_id"))
            & (F.col(f"i{k}") == F.col("i0") + k),
        ).drop(f"d{k}", f"i{k}")
    return out.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )


# --- bigram LM scoring, duplicated-span removal map, PRF expansion ----------

BACKOFF_NUM = 2  # stupid-backoff alpha = 2/5 = 0.4, kept as exact integers
BACKOFF_DEN = 5


@register(
    "corpus_bigram_familiarity",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, w, pos FROM (
    SELECT doc_id, lang,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  ) t
),
big AS (
  SELECT doc_id, lang,
         LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         w AS w2
  FROM tok
),
hb AS (SELECT doc_id, lang, w1, w2 FROM big
       WHERE w1 IS NOT NULL AND doc_id % 10 = 0),
tuni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
         WHERE doc_id % 10 <> 0 GROUP BY w),
tbig AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM big
         WHERE w1 IS NOT NULL AND doc_id % 10 <> 0 GROUP BY w1, w2),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tuni),
scored AS (
  SELECT h.doc_id, h.lang,
         CASE WHEN b.cnt IS NOT NULL THEN 0 ELSE 1 END AS backed_off,
         CASE WHEN b.cnt IS NOT NULL
              THEN CAST(b.cnt AS DOUBLE) / u1.cnt
              ELSE CAST({BACKOFF_NUM} * COALESCE(u2.cnt, 0) AS DOUBLE)
                   / ({BACKOFF_DEN} * t.total)
         END AS score
  FROM hb h
  LEFT JOIN tbig b ON b.w1 = h.w1 AND b.w2 = h.w2
  LEFT JOIN tuni u1 ON u1.w = h.w1
  LEFT JOIN tuni u2 ON u2.w = h.w2
  CROSS JOIN tot t
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(backed_off) AS BIGINT) AS n_backoff,
       CAST(SUM(backed_off) AS DOUBLE) / COUNT(*) AS backoff_rate,
       CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
         AS mean_score
FROM scored
GROUP BY lang
""",
)
def corpus_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring with stupid backoff (α = 0.4): train
    bigram/unigram tables on 90% of the corpus (doc_id % 10 ≠ 0), score
    the held-out 10% — the n-gram-LM step up from
    corpus_unigram_familiarity, and the exact-arithmetic stand-in for
    KenLM-style perplexity filtering (CCNet's quality signal). A
    held-out bigram scores cnt(w1,w2)/cnt(w1) when seen in training,
    else backs off to α·cnt(w2)/total; low mean_score or high
    backoff_rate per language flags text unlike the training
    distribution.

    Determinism without transcendentals: every score is ONE
    exactly-rounded IEEE division of integer-valued operands (α = 2/5
    is applied as integer numerator/denominator scaling, not a float
    multiply), and the per-lang mean goes through DECIMAL(28,6) like
    the BM25 term sum.

    Scale shape: the trained tables are token-grain hash aggs (the
    persisted LM at 100 TB); scoring is two postings joins on w1 /
    (w1,w2) — Zipf-head skew on the token join is the known watch item,
    same mitigation as corpus_unigram_familiarity (salt or broadcast
    the head). No pairwise work anywhere.
    """
    scored = _bigram_backoff_scored(spark, sf_dir, heldout_only=True)
    return scored.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("backed_off").cast("bigint").alias("n_backoff"),
        (
            F.sum("backed_off").cast("double") / F.count(F.lit(1))
        ).alias("backoff_rate"),
        (
            F.sum(F.col("score").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_score"),
    )


def _merged_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated character spans per document: columns
    ``(doc_id, n_chars, span_start, span_chars)``. Shared by the
    removal-map query (text_dup_span_merge) and the span-excision
    consumer (text_dedup_apply_spans).

    Spans are guaranteed NON-OVERLAPPING: distinct islands are grid
    runs separated by >= 1 missing start, so consecutive island starts
    differ by >= 2*CHUNK_STRIDE = 180 > CHUNK_LEN = 120 — a span's
    reach never crosses the next span's start. That makes per-doc char
    accounting (kept + duplicated = total) exact."""
    from ..catalog import spread

    d = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars", "text"
        ),
        "doc_id",
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    chunk = F.substring(F.col("text"), F.col("start_pos"), CHUNK_LEN)
    ch = (
        d.select(
            "doc_id", "n_chars", F.explode(starts).alias("start_pos"), "text"
        )
        .filter(F.length(chunk) == CHUNK_LEN)
        .select("doc_id", "n_chars", "start_pos", F.md5(chunk).alias("h"))
    )
    dup_h = (
        ch.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    wd = Window.partitionBy("doc_id").orderBy("start_pos")
    dup_starts = (
        ch.join(dup_h, "h", "semi")
        .select(
            "doc_id",
            "n_chars",
            "start_pos",
            (
                F.col("start_pos")
                - F.lit(CHUNK_STRIDE) * F.row_number().over(wd)
            ).alias("grp"),
        )
    )
    return dup_starts.groupBy("doc_id", "n_chars", "grp").agg(
        F.min("start_pos").alias("span_start"),
        (
            F.max("start_pos") + F.lit(CHUNK_LEN) - F.min("start_pos")
        ).alias("span_chars"),
    )


@register(
    "text_dup_span_merge",
    oracle=f"""
WITH starts AS (
  SELECT doc_id, n_chars, text,
         unnest(generate_series(1, GREATEST(length(text), 1), {CHUNK_STRIDE}))
           AS start_pos
  FROM documents
),
ch AS (
  SELECT doc_id, n_chars, start_pos,
         md5(substring(text, start_pos, {CHUNK_LEN})) AS h
  FROM starts
  WHERE length(substring(text, start_pos, {CHUNK_LEN})) = {CHUNK_LEN}
),
dup_h AS (SELECT h FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
dup_starts AS (
  SELECT c.doc_id, c.n_chars, c.start_pos,
         c.start_pos - {CHUNK_STRIDE} * ROW_NUMBER() OVER (
           PARTITION BY c.doc_id ORDER BY c.start_pos) AS grp
  FROM ch c WHERE c.h IN (SELECT h FROM dup_h)
),
spans AS (
  SELECT doc_id, n_chars,
         MAX(start_pos) + {CHUNK_LEN} - MIN(start_pos) AS span_chars
  FROM dup_starts GROUP BY doc_id, n_chars, grp
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_chars) AS BIGINT) AS dup_chars,
       CAST(MAX(span_chars) AS BIGINT) AS max_span_chars,
       CAST(SUM(span_chars) AS DOUBLE) / MAX(n_chars) AS dup_char_frac
FROM spans
GROUP BY doc_id
""",
)
def text_dup_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated spans per document — the REMOVAL MAP of exact
    substring deduplication (Lee et al. 2022): chunk hashes shared by
    ≥ 2 documents mark duplicated text, and runs of stride-adjacent
    duplicated chunks merge (gaps-and-islands) into maximal character
    spans, yielding per-document span count, duplicated character mass,
    and fraction — exactly what a span-dropping dedup pass consumes.
    Complements text_chunk_dup_spans (which scores doc PAIRS by shared
    chunk mass; this one localizes WHERE in each doc the duplication
    lives).

    Islands without sequential scans: chunk starts come from a fixed
    stride grid, so grp = start_pos − stride·row_number() is constant
    exactly within a maximal run — the classic O(1)-per-row island key,
    identical in both engines (integer arithmetic, ordered by the
    unique start_pos).

    Scale shape: one map-side chunk-hash pass, a groupBy(h) to find
    shared hashes (no pair fan-out — distinct-doc COUNT, not a
    self-join), a semi-join back, and per-doc windows over each doc's
    own ≤ len/stride chunk rows. Linear end to end; the only shuffles
    are the hash agg and the per-doc window.
    """
    spans = _merged_dup_spans(spark, sf_dir)
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_chars").cast("bigint").alias("dup_chars"),
        F.max("span_chars").cast("bigint").alias("max_span_chars"),
        (
            F.sum("span_chars").cast("double") / F.max("n_chars")
        ).alias("dup_char_frac"),
    )


PRF_EXPAND_K = 10  # expansion terms returned


@register(
    "search_prf_expansion",
    oracle=f"""
WITH {_SQL_BM25_CTE},
fb AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
    FROM agg
  ) t WHERE rk <= {BM25_TOPK}
),
dfall AS (
  SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY w
),
fbtf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS tf_fb
  FROM tok WHERE doc_id IN (SELECT doc_id FROM fb)
        AND w NOT IN ({_BM25_TERMS_SQL})
  GROUP BY w
),
cand AS (
  SELECT f.w AS term, f.tf_fb, d.df AS df_corpus,
         f.tf_fb * (s.n_docs - d.df) AS score
  FROM fbtf f JOIN dfall d ON d.w = f.w CROSS JOIN stats s
)
SELECT term, tf_fb, df_corpus, CAST(score AS BIGINT) AS score, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, term) AS BIGINT)
           AS rk
  FROM cand
) t WHERE rk <= {PRF_EXPAND_K}
""",
)
def search_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM3-lite): take the
    BM25 top-{BM25_TOPK} feedback documents, and rank their terms by an
    exact-integer rarity-weighted feedback frequency
    tf_fb · (N − df) — high when a term is FREQUENT in the feedback
    set but RARE in the corpus, the same signal RM3's
    P(w|feedback)·idf estimates with floats. Original query terms are
    excluded. The top PRF_EXPAND_K terms are what a retrieval stack
    appends to the query for the second-pass search. (A production stack would also
    stoplist terms above a df cap; the fixture's 31-token vocabulary
    makes any such cap degenerate, and the (N − df) factor already
    drives ubiquitous terms to the bottom of the ranking.)

    Determinism: the feedback list is the hash-checked BM25 ranking;
    every expansion score is a product/difference of BIGINTs — no
    floats anywhere past the (already-checked) BM25 stage.

    Scale shape: the feedback set is k docs, so fbtf explodes only k
    documents' tokens (row-fetch-sized); dfall is the corpus document-
    frequency table — a persisted index-stats table at 100 TB, here one
    distinct+agg pass; the final ranking is over the feedback
    vocabulary only. The expensive corpus-wide structures (postings,
    df) are exactly the ones a search engine already maintains.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    fb = search_bm25_topk(spark, sf_dir).select("doc_id")
    dfall = tok.groupBy("w").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df_corpus")
    )
    fbtf = (
        tok.join(F.broadcast(fb), "doc_id", "semi")
        .filter(~F.col("w").isin(*BM25_TERMS))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf_fb"))
    )
    cand = (
        fbtf.join(dfall, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("w").alias("term"),
            "tf_fb",
            "df_corpus",
            (
                F.col("tf_fb") * (F.col("n_docs") - F.col("df_corpus"))
            ).cast("bigint").alias("score"),
        )
    )
    return ranked_topk(
        cand,
        [F.col("score").desc(), F.col("term")],
        PRF_EXPAND_K,
        rk_cast="bigint",
    )


# --- PRF second pass, span-excision dedup apply ------------------------------


@register(
    "search_bm25_expanded",
    oracle=f"""
WITH {_SQL_BM25_CTE},
first_rk AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS rk_first
  FROM agg
),
fb AS (SELECT doc_id FROM first_rk WHERE rk_first <= {BM25_TOPK}),
dfall AS (
  SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY w
),
fbtf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS tf_fb
  FROM tok WHERE doc_id IN (SELECT doc_id FROM fb)
        AND w NOT IN ({_BM25_TERMS_SQL})
  GROUP BY w
),
exp_terms AS (
  SELECT w FROM (
    SELECT f.w,
           ROW_NUMBER() OVER (ORDER BY f.tf_fb * (s.n_docs - d.df) DESC, f.w)
             AS rk
    FROM fbtf f JOIN dfall d ON d.w = f.w CROSS JOIN stats s
  ) t WHERE rk <= {PRF_EXPAND_K}
),
qterms AS (
  SELECT w FROM exp_terms
  UNION ALL
  SELECT * FROM (VALUES {", ".join(f"('{t}')" for t in BM25_TERMS)}) v(w)
),
tf2 AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok JOIN qterms USING (w) GROUP BY doc_id, w
),
df2 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf2 GROUP BY w),
ts2 AS (
  SELECT t.doc_id,
         ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
            / (CAST(f.df AS DOUBLE) + 0.5))
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))))) AS ts
  FROM tf2 t JOIN df2 f USING (w) JOIN dl l USING (doc_id) CROSS JOIN stats s
),
agg2 AS (
  SELECT doc_id,
         CAST(SUM(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) AS bm25_exp,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched
  FROM ts2 GROUP BY doc_id
),
top2 AS (
  SELECT * FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY bm25_exp DESC, doc_id)
                   AS BIGINT) AS rk_exp
    FROM agg2
  ) t WHERE rk_exp <= {BM25_TOPK}
)
SELECT t.doc_id, t.bm25_exp, t.n_terms_matched, t.rk_exp,
       COALESCE(f.rk_first, 0) AS rk_first,
       f.rk_first IS NULL AS is_new,
       CAST(CASE WHEN f.rk_first IS NULL THEN 0
                 ELSE f.rk_first - t.rk_exp END AS BIGINT) AS rank_gain
FROM top2 t LEFT JOIN first_rk f USING (doc_id)
""",
)
def search_bm25_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRF second-pass retrieval — closes the pseudo-relevance-feedback
    loop that search_prf_expansion opens: re-run BM25 with the query
    expanded by the top-{PRF_EXPAND_K} feedback terms and score RANK
    MOVEMENT against the first pass. Per second-pass top-{BM25_TOPK}
    doc: its expanded score/rank, its full first-pass rank (0 when the
    doc matched NO original term — recall the expansion recovered), and
    rank_gain = rk_first − rk_exp (positive = promoted; 0 sentinel for
    newly-recalled docs, flagged separately by is_new). This is the
    RM3 architecture end-to-end: pass 1 → feedback → term selection →
    pass 2.

    Determinism: the expansion term set is the already-hash-checked
    integer ranking (tf_fb·(N−df), term tiebreak); both BM25 passes use
    the shared exact-decimal scoring core (`_bm25_agg` /
    `_SQL_BM25_CTE`-shaped SQL with identical evaluation order).

    Scale shape: the {PRF_EXPAND_K}-term expansion vocabulary returns
    to the query planner (a k-row driver fetch — exactly how a real
    engine issues the second postings scan; same class as the k-row
    codebook collects), so BOTH passes stay inverted-index-shaped: the
    term filter prunes the token explode to the expanded query's
    postings before any shuffle. Nothing corpus-wide is added beyond
    the df stats pass 1 already needs.
    """
    exp_rows = (
        search_prf_expansion(spark, sf_dir).select("term").collect()
    )
    exp_terms = tuple(sorted(r.term for r in exp_rows))
    agg1 = _bm25_agg(spark, sf_dir, BM25_TERMS)
    agg2 = _bm25_agg(spark, sf_dir, BM25_TERMS + exp_terms)
    w1 = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    first_rk = agg1.select(
        "doc_id", F.row_number().over(w1).cast("bigint").alias("rk_first")
    )
    top2 = ranked_topk(
        agg2.select(
            "doc_id",
            F.col("bm25").alias("bm25_exp"),
            F.col("n_terms").cast("bigint").alias("n_terms_matched"),
        ),
        [F.col("bm25_exp").desc(), F.col("doc_id")], BM25_TOPK,
        rk_col="rk_exp", rk_cast="bigint",
    )
    return top2.join(first_rk, "doc_id", "left").select(
        "doc_id",
        "bm25_exp",
        "n_terms_matched",
        "rk_exp",
        F.coalesce(F.col("rk_first"), F.lit(0)).cast("bigint").alias(
            "rk_first"
        ),
        F.col("rk_first").isNull().alias("is_new"),
        F.when(F.col("rk_first").isNull(), F.lit(0))
        .otherwise(F.col("rk_first") - F.col("rk_exp"))
        .cast("bigint")
        .alias("rank_gain"),
    )


@register(
    "text_dedup_apply_spans",
    oracle=f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1, GREATEST(length(text), 1), {CHUNK_STRIDE}))
           AS start_pos
  FROM documents
),
ch AS (
  SELECT doc_id, start_pos,
         md5(substring(text, start_pos, {CHUNK_LEN})) AS h
  FROM starts
  WHERE length(substring(text, start_pos, {CHUNK_LEN})) = {CHUNK_LEN}
),
dup_h AS (SELECT h FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
dup_starts AS (
  SELECT c.doc_id, c.start_pos,
         c.start_pos - {CHUNK_STRIDE} * ROW_NUMBER() OVER (
           PARTITION BY c.doc_id ORDER BY c.start_pos) AS grp
  FROM ch c WHERE c.h IN (SELECT h FROM dup_h)
),
spans AS (
  SELECT doc_id, MIN(start_pos) AS s,
         MAX(start_pos) + {CHUNK_LEN} - MIN(start_pos) AS ln
  FROM dup_starts GROUP BY doc_id, grp
),
sp2 AS (
  SELECT doc_id, s, ln,
         COALESCE(LAG(s + ln) OVER (PARTITION BY doc_id ORDER BY s), 1)
           AS prev_end
  FROM spans
),
segs AS (
  SELECT p.doc_id, CAST(p.s AS BIGINT) AS ord,
         substring(d.text, CAST(p.prev_end AS INT),
                   CAST(p.s - p.prev_end AS INT)) AS seg
  FROM sp2 p JOIN documents d ON d.doc_id = p.doc_id
  UNION ALL
  SELECT mx.doc_id, CAST(2147483647 AS BIGINT) AS ord,
         substring(d.text, CAST(mx.e AS INT)) AS seg
  FROM (SELECT doc_id, MAX(s + ln) AS e FROM spans GROUP BY doc_id) mx
  JOIN documents d ON d.doc_id = mx.doc_id
),
clean AS (
  SELECT doc_id, string_agg(seg, '' ORDER BY ord) AS clean_text
  FROM segs GROUP BY doc_id
),
dmass AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(ln) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       m.n_spans, m.dup_chars,
       CAST(length(c.clean_text) AS BIGINT) AS kept_chars,
       (length(c.clean_text) + m.dup_chars) = length(d.text) AS chars_ok,
       md5(c.clean_text) AS clean_hash
FROM clean c
JOIN dmass m ON m.doc_id = c.doc_id
JOIN documents d ON d.doc_id = c.doc_id
""",
)
def text_dedup_apply_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-excision dedup APPLY — the consumer of text_dup_span_merge's
    removal map: per affected document, excise the merged duplicated
    spans and emit the deduplicated text's exact char accounting
    (kept + duplicated = total, asserted per-row as chars_ok) plus an
    md5 of the cleaned text, so the reconstruction itself — not just
    its length — is hash-checked across engines. This is the write
    side of Lee et al. exact-substring dedup: the map says WHERE, this
    produces the corpus you actually train on.

    Reconstruction without per-row loops: spans are non-overlapping
    (see _merged_dup_spans), so the kept text is the ordered
    concatenation of GAP segments — each span contributes the slice
    from the previous span's end (lag window, default position 1) to
    its own start, plus one per-doc tail slice after the last span.
    Sorted-struct concat (array_sort over (ord, seg), ord = span start,
    tail ord = INT_MAX) makes the assembly order deterministic in both
    engines.

    Scale shape: everything per-doc — the chunk-hash pass and dup-hash
    semi-join are the (linear) removal-map stages; the new work is one
    lag window and one collect_list/concat per AFFECTED doc, each over
    that doc's own span rows (≤ len/stride). No pairwise anything; the
    full text moves through exactly one groupBy, partitioned by doc_id.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sp = _merged_dup_spans(spark, sf_dir).select(
        "doc_id", F.col("span_start").alias("s"),
        F.col("span_chars").alias("ln"),
    )
    wd = Window.partitionBy("doc_id").orderBy("s")
    sp2 = sp.select(
        "doc_id", "s", "ln",
        F.coalesce(
            F.lag(F.col("s") + F.col("ln")).over(wd), F.lit(1)
        ).alias("prev_end"),
    )
    head_segs = sp2.join(d, "doc_id").select(
        "doc_id",
        F.col("s").cast("bigint").alias("ord"),
        F.expr(
            "substring(text, CAST(prev_end AS INT), CAST(s - prev_end AS INT))"
        ).alias("seg"),
    )
    tail_segs = (
        sp.groupBy("doc_id")
        .agg(F.max(F.col("s") + F.col("ln")).alias("e"))
        .join(d, "doc_id")
        .select(
            "doc_id",
            F.lit(2147483647).cast("bigint").alias("ord"),
            F.expr("substring(text, CAST(e AS INT))").alias("seg"),
        )
    )
    clean = (
        head_segs.unionByName(tail_segs)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "seg"))),
                    lambda x: x["seg"],
                ),
            ).alias("clean_text")
        )
    )
    dmass = sp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("ln").cast("bigint").alias("dup_chars"),
    )
    return (
        clean.join(dmass, "doc_id")
        .join(d, "doc_id")
        .select(
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars"),
            "n_spans",
            "dup_chars",
            F.length("clean_text").cast("bigint").alias("kept_chars"),
            (
                (F.length("clean_text") + F.col("dup_chars"))
                == F.length("text")
            ).alias("chars_ok"),
            F.md5("clean_text").alias("clean_hash"),
        )
    )


# --- DSIR importance scoring, BPE merge training ------------------------------

DSIR_SELECT_DEN = 5  # select the top 1/5 of raw docs by importance


@register(
    "corpus_dsir_importance",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
t_cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ct FROM tok
          WHERE doc_id % 10 = 0 GROUP BY w),
r_cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cr FROM tok
          WHERE doc_id % 10 <> 0 GROUP BY w),
tots AS (
  SELECT CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS tt,
         CAST(SUM(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS tr
  FROM tok
),
scored AS (
  SELECT k.doc_id,
         CAST((COALESCE(t.ct, 0) + 1) * s.tr AS DOUBLE)
           / CAST(r.cr * s.tt AS DOUBLE) AS ratio
  FROM tok k
  JOIN r_cnt r ON r.w = k.w
  LEFT JOIN t_cnt t ON t.w = k.w
  CROSS JOIN tots s
  WHERE k.doc_id % 10 <> 0
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(ratio AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
           AS mean_ratio
  FROM scored GROUP BY doc_id
),
nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_raw FROM agg)
SELECT doc_id, n_tokens, mean_ratio,
       CAST(ROW_NUMBER() OVER (ORDER BY mean_ratio DESC, doc_id) AS BIGINT)
         AS rk,
       ROW_NUMBER() OVER (ORDER BY mean_ratio DESC, doc_id) * 5 <= nr.n_raw
         AS selected
FROM agg, nr
""",
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring for data selection (Xie et al.
    2023): estimate unigram distributions on a TARGET set (the held-out
    doc_id % 10 = 0 split — in production the trusted high-quality
    corpus) and on the RAW pool, score every raw document by how
    target-like its tokens are, and select the top 1/5 by importance.
    The per-token signal is the smoothed count ratio
    (cnt_target(w)+1)·total_raw / (cnt_raw(w)·total_target) — the same
    p_target(w)/p_raw(w) density ratio DSIR's hashed-n-gram LM
    estimates; the per-doc statistic is the DECIMAL-quantized MEAN
    ratio rather than the log-ratio sum (ln is a libm call whose last
    ulp differs across engines — the mean-ratio surrogate keeps every
    op an exactly-rounded IEEE primitive and the whole ranking
    hash-checkable; both statistics order docs by target-affinity).

    Scale shape: the two LM tables are token-grain hash aggs (persisted
    model artifacts at 100 TB, retrained at corpus cadence); scoring is
    one postings join of raw tokens against them (Zipf-head salting as
    in corpus_unigram_familiarity), one per-doc agg, one global rank of
    doc-level scores. Products stay inside BIGINT (counts·totals
    ≤ 1e11 ≪ 2^53) so the ratio is exact-integer-valued on both sides
    of the one division.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    is_t = F.col("doc_id") % 10 == 0
    t_cnt = (
        tok.filter(is_t)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    r_cnt = (
        tok.filter(~is_t)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cr"))
    )
    tots = tok.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("tt"),
        F.sum(F.when(is_t, 0).otherwise(1)).cast("bigint").alias("tr"),
    )
    ratio = (
        (F.coalesce(F.col("ct"), F.lit(0)) + 1) * F.col("tr")
    ).cast("double") / (F.col("cr") * F.col("tt")).cast("double")
    scored = (
        tok.filter(~is_t)
        .join(r_cnt, "w")
        .join(t_cnt, "w", "left")
        .crossJoin(F.broadcast(tots))
        .select("doc_id", ratio.alias("ratio"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        (
            F.sum(F.col("ratio").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_ratio"),
    )
    nr = agg.agg(F.count(F.lit(1)).cast("bigint").alias("n_raw"))
    w = Window.orderBy(F.col("mean_ratio").desc(), F.col("doc_id"))
    return (
        agg.crossJoin(F.broadcast(nr))
        .select(
            "doc_id",
            "n_tokens",
            "mean_ratio",
            F.row_number().over(w).cast("bigint").alias("rk"),
            (
                F.row_number().over(w) * DSIR_SELECT_DEN <= F.col("n_raw")
            ).alias("selected"),
        )
    )


BPE_MERGES = 3  # unrolled merge rounds (the oracle unrolls the same 3)


def _sql_bpe_iter(prev_seg: str, idx: int) -> str:
    """One unrolled BPE merge round as DuckDB CTEs: adjacent-pair counts
    over the current segmentation (weighted by word frequency), argmax
    pair by (count, p1, p2), greedy left-to-right replace."""
    return f"""
sy{idx} AS (
  SELECT word, freq, pos, sym FROM (
    SELECT word, freq,
           generate_subscripts(string_split(seg, '\u00b7'), 1) AS pos,
           unnest(string_split(seg, '\u00b7')) AS sym
    FROM {prev_seg}
  ) t WHERE sym <> ''
),
pc{idx} AS (
  SELECT p1, p2, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT word, freq, sym AS p1,
           LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS p2
    FROM sy{idx}
  ) t WHERE p2 IS NOT NULL GROUP BY p1, p2
),
m{idx} AS (
  SELECT p1, p2, cnt, {idx} AS rk FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, p1, p2) AS rn FROM pc{idx}
  ) t WHERE rn = 1
),
seg{idx} AS (
  SELECT s.word, s.freq,
         replace(s.seg, '\u00b7' || m.p1 || '\u00b7' || m.p2 || '\u00b7',
                 '\u00b7' || m.p1 || m.p2 || '\u00b7') AS seg
  FROM {prev_seg} s CROSS JOIN m{idx} m
)"""


# Shared unrolled BPE training chain (vocab -> char seg0 -> BPE_MERGES
# merge rounds), ending in m1..m{BPE_MERGES} and seg{BPE_MERGES}.
_SQL_BPE_CHAIN = (
    "WITH vocab AS (\n"
    "  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (\n"
    "    SELECT unnest(string_split(text, ' ')) AS w FROM documents\n"
    "  ) t WHERE w <> '' GROUP BY w\n"
    "),\n"
    "seg0 AS (\n"
    "  SELECT word, freq,\n"
    "         '\u00b7' || regexp_replace(word, '(.)', '\\1\u00b7', 'g')\n"
    "           AS seg\n"
    "  FROM vocab\n"
    "),"
    + ",".join(_sql_bpe_iter(f"seg{i - 1}", i) for i in range(1, BPE_MERGES + 1))
)


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """Run the {BPE_MERGES}-round BPE trainer over the word-type table:
    returns (one 1-row merge DataFrame per merge, final segmentation
    (word, freq, seg)) — the DataFrame twin of `_SQL_BPE_CHAIN`, shared
    by the merge-table query and the apply/compression query."""
    from ..catalog import spread

    d = load_table(spark, sf_dir, "documents")
    vocab = spread(
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq")),
        "word",
    )
    seg = vocab.select(
        "word",
        "freq",
        F.concat(
            F.lit("\u00b7"), F.regexp_replace("word", "(.)", "$1\u00b7")
        ).alias("seg"),
    )
    merges = []
    for i in range(1, BPE_MERGES + 1):
        sy = seg.select(
            "word",
            "freq",
            F.posexplode(F.split("seg", "\u00b7")).alias("pos", "sym"),
        ).filter(F.col("sym") != "")
        wv = Window.partitionBy("word").orderBy("pos")
        pc = (
            sy.select(
                "word",
                "freq",
                F.col("sym").alias("p1"),
                F.lead("sym").over(wv).alias("p2"),
            )
            .filter(F.col("p2").isNotNull())
            .groupBy("p1", "p2")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        m = (
            ranked_topk(pc, [F.col("cnt").desc(), "p1", "p2"], 1)
            .select("p1", "p2", "cnt", F.lit(i).alias("rk"))
            .localCheckpoint()  # 1 row: keeps the next round's plan shallow
        )
        merges.append(m)
        pat = F.concat(
            F.lit("\u00b7"), F.col("p1"), F.lit("\u00b7"), F.col("p2"),
            F.lit("\u00b7"),
        )
        rep = F.concat(
            F.lit("\u00b7"), F.col("p1"), F.col("p2"), F.lit("\u00b7")
        )
        seg = seg.crossJoin(F.broadcast(m.select("p1", "p2"))).select(
            "word", "freq", F.replace("seg", pat, rep).alias("seg")
        )
    return merges, seg


@register(
    "corpus_bpe_merges",
    oracle=_SQL_BPE_CHAIN
    + f""",
merges AS ({" UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(1, BPE_MERGES + 1))})
SELECT CAST(m.rk AS BIGINT) AS rk, m.p1, m.p2, m.cnt,
       (SELECT CAST(SUM(freq * (len(string_split(seg, '\u00b7')) - 2)
              ) AS BIGINT)
        FROM seg{BPE_MERGES}) AS corpus_symbols_final
FROM merges m
""",
)
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the corpus — the first {BPE_MERGES}
    learned merges: segment every vocabulary word into characters,
    count adjacent symbol pairs weighted by word frequency, merge the
    most frequent pair (greedy left-to-right within words, the
    Sennrich et al. 2016 rule), and repeat. Emits each merge round's
    winning pair and weighted count, plus the corpus symbol count
    after all merges (the compression the learned merges buy — the
    number a tokenizer team watches per merge-table size).

    Cross-engine greedy-replace parity: the segmentation is a
    '\u00b7'-delimited string ('\u00b7h\u00b7e\u00b7l\u00b7l\u00b7o\u00b7'),
    and a merge is string replace of '\u00b7p1\u00b7p2\u00b7' with
    '\u00b7p1p2\u00b7' — both engines replace non-overlapping matches
    left to right, which IS BPE's greedy rule (in 'aaa', merge (a,a)
    consumes the first two a's and the shared delimiter, leaving the
    third unmerged — verified by the unit test). Pair counts are
    integer sums; the argmax tiebreak is (count desc, p1, p2).

    Scale shape: BPE trains on the WORD-TYPE table (vocabulary +
    frequency — a hash agg over the corpus, then ~millions of rows at
    100 TB, not trillions of tokens); each merge round is one
    explode + window-lead pair count over the vocabulary and one
    map-side replace. Rounds are inherently sequential (real trainers
    run thousands; the unrolled {BPE_MERGES} here pin the semantics),
    and each round's cost is vocabulary-sized, independent of corpus
    token count.
    """
    merges, seg = _bpe_train(spark, sf_dir)
    final_syms = seg.agg(
        F.sum(
            F.col("freq") * (F.size(F.split("seg", "\u00b7")) - 2)
        ).cast("bigint").alias("corpus_symbols_final")
    )
    all_m = merges[0]
    for m in merges[1:]:
        all_m = all_m.unionByName(m)
    return all_m.crossJoin(F.broadcast(final_syms)).select(
        F.col("rk").cast("bigint").alias("rk"),
        "p1",
        "p2",
        "cnt",
        "corpus_symbols_final",
    )


@register(
    "corpus_bpe_apply",
    oracle=_SQL_BPE_CHAIN
    + f""",
wsym AS (
  SELECT word,
         CAST(len(string_split(seg, '·')) - 2 AS BIGINT) AS ns
  FROM seg{BPE_MERGES}
),
dtok AS (
  SELECT doc_id, w AS word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) t WHERE w <> ''
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(d.word)) AS BIGINT) AS n_char_symbols,
       CAST(SUM(s.ns) AS BIGINT) AS n_bpe_symbols,
       CAST(SUM(length(d.word)) - SUM(s.ns) AS BIGINT) AS symbols_saved,
       CAST(SUM(length(d.word)) AS DOUBLE) / SUM(s.ns) AS compression
FROM dtok d JOIN wsym s ON s.word = d.word
GROUP BY d.doc_id
""",
)
def corpus_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table back to the corpus — the
    consumer of corpus_bpe_merges (train -> tokenize, the same
    closure discipline as the span-removal apply): per document, the
    token count under character segmentation vs under the
    {BPE_MERGES}-merge segmentation, symbols saved, and the
    compression ratio — the per-document view of what the merge table
    buys, and the number that drives context-window budgeting for a
    tokenizer change.

    Tokenization by lookup, not re-merging: BPE segmentation is a
    function of the word alone, so applying the tokenizer is one join
    of corpus tokens against the trained word->symbol-count table —
    at 100 TB the vocabulary table IS the deployed tokenizer artifact
    and the join is the broadcast-dimension pattern (vocabulary ≪
    corpus). The compression ratio is one IEEE division of two exact
    integer sums.
    """
    _, seg = _bpe_train(spark, sf_dir)
    wsym = seg.select(
        "word",
        (F.size(F.split("seg", "·")) - 2).cast("bigint").alias("ns"),
    )
    d = load_table(spark, sf_dir, "documents")
    dtok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        dtok.join(F.broadcast(wsym), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_char_symbols"),
            F.sum("ns").cast("bigint").alias("n_bpe_symbols"),
            (
                F.sum(F.length("word")) - F.sum("ns")
            ).cast("bigint").alias("symbols_saved"),
            (
                F.sum(F.length("word")).cast("double")
                / F.sum("ns")
            ).alias("compression"),
        )
    )


def _bigram_backoff_scored(
    spark: SparkSession, sf_dir: str, heldout_only: bool
) -> DataFrame:
    """Shared stupid-backoff bigram scorer (train split: doc_id % 10 != 0).

    Returns one row per scored bigram (doc_id, lang, backed_off, score).
    ``heldout_only`` scores just the 10% held-out docs (the familiarity
    audit); False scores EVERY doc (the CCNet-style selection pass —
    training docs are scored by the same LM that saw them, which is
    exactly what CCNet does when it buckets the whole crawl with one
    fixed LM). Single source of truth so the two queries cannot drift
    (the r7-advice lesson from _exact_sq_topk).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        "doc_id", "lang", F.lag("w").over(wdoc).alias("w1"),
        F.col("w").alias("w2"),
    ).filter(F.col("w1").isNotNull())
    train_tok = tok.filter(F.col("doc_id") % 10 != 0)
    tuni = train_tok.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tbig = (
        big.filter(F.col("doc_id") % 10 != 0)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = tuni.agg(F.sum("cnt").cast("bigint").alias("total"))
    hb = big.filter(F.col("doc_id") % 10 == 0) if heldout_only else big
    return (
        hb.join(tbig.withColumnRenamed("cnt", "bcnt"), ["w1", "w2"], "left")
        .join(
            tuni.select(F.col("w").alias("w1"), F.col("cnt").alias("u1")),
            "w1",
            "left",
        )
        .join(
            tuni.select(F.col("w").alias("w2"), F.col("cnt").alias("u2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            F.when(F.col("bcnt").isNotNull(), 0).otherwise(1).alias(
                "backed_off"
            ),
            F.when(
                F.col("bcnt").isNotNull(),
                F.col("bcnt").cast("double") / F.col("u1"),
            )
            .otherwise(
                (
                    F.lit(BACKOFF_NUM) * F.coalesce(F.col("u2"), F.lit(0))
                ).cast("double")
                / (F.lit(BACKOFF_DEN) * F.col("total"))
            )
            .alias("score"),
        )
    )


# The shared scoring CTE chain both perplexity oracles build on.
_SQL_BIGRAM_SCORED = f"""
tok AS (
  SELECT doc_id, lang, w, pos FROM (
    SELECT doc_id, lang,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  ) t
),
big AS (
  SELECT doc_id, lang,
         LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         w AS w2
  FROM tok
),
allb AS (SELECT doc_id, lang, w1, w2 FROM big WHERE w1 IS NOT NULL),
tuni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
         WHERE doc_id % 10 <> 0 GROUP BY w),
tbig AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM allb
         WHERE doc_id % 10 <> 0 GROUP BY w1, w2),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tuni),
scored AS (
  SELECT h.doc_id, h.lang,
         CASE WHEN b.cnt IS NOT NULL THEN 0 ELSE 1 END AS backed_off,
         CASE WHEN b.cnt IS NOT NULL
              THEN CAST(b.cnt AS DOUBLE) / u1.cnt
              ELSE CAST({BACKOFF_NUM} * COALESCE(u2.cnt, 0) AS DOUBLE)
                   / ({BACKOFF_DEN} * t.total)
         END AS score
  FROM allb h
  LEFT JOIN tbig b ON b.w1 = h.w1 AND b.w2 = h.w2
  LEFT JOIN tuni u1 ON u1.w = h.w1
  LEFT JOIN tuni u2 ON u2.w = h.w2
  CROSS JOIN tot t
)
"""


@register(
    "corpus_perplexity_buckets",
    oracle=f"""
WITH {_SQL_BIGRAM_SCORED},
per_doc AS (
  SELECT doc_id, lang,
         CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
           AS doc_score
  FROM scored GROUP BY doc_id, lang
),
bk AS (
  SELECT lang, doc_id, doc_score,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY doc_score DESC, doc_id) AS b
  FROM per_doc
)
SELECT bk.lang,
       CASE bk.b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(bk.doc_score AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
         AS mean_doc_score
FROM bk JOIN documents d USING (doc_id)
GROUP BY bk.lang, bk.b
""",
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail selection: score EVERY document with the
    fixed bigram LM (stupid backoff, trained once on the 90% split —
    `_bigram_backoff_scored`), average per doc, and cut each language
    into perplexity terciles — head = most LM-like (kept), tail = least
    (dropped or down-sampled). This is the consuming operator for
    corpus_bigram_familiarity's score: the familiarity audit says how
    well the LM fits; this query turns the same score into the actual
    per-language keep/drop partition of the corpus.

    Determinism: per-doc mean goes through DECIMAL(28,6) (exact sum of
    IEEE-division scores), tercile assignment is ntile over
    (doc_score DESC, doc_id) — fully tiebroken. Docs with fewer than 2
    tokens have no bigrams and are out of scope (none in the fixture).

    Scale shape: scoring is the same two postings joins as the
    familiarity audit (token-grain, Zipf-head mitigation documented
    there); bucketing is a per-language window over DOC-grain rows
    (1000x smaller than token grain). At 100 TB the ntile becomes two
    quantile thresholds per language from a KLL sketch (sketches.py) —
    same buckets, no global sort; ntile is the exact-arithmetic twin
    the oracle can check.
    """
    scored = _bigram_backoff_scored(spark, sf_dir, heldout_only=False)
    per_doc = scored.groupBy("doc_id", "lang").agg(
        (
            F.sum(F.col("score").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("doc_score")
    )
    bk = per_doc.select(
        "lang",
        "doc_id",
        "doc_score",
        F.ntile(3)
        .over(
            Window.partitionBy("lang").orderBy(
                F.desc("doc_score"), F.asc("doc_id")
            )
        )
        .alias("b"),
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        bk.join(d, "doc_id")
        .groupBy(
            "lang",
            F.when(F.col("b") == 1, "head")
            .when(F.col("b") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            (
                F.sum(F.col("doc_score").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_doc_score"),
        )
    )


@register(
    "search_postings_delta_stats",
    oracle="""
WITH tok AS (
  SELECT DISTINCT w, doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) t
),
g AS (
  SELECT w, doc_id,
         doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY w
                                             ORDER BY doc_id), -1) AS gap
  FROM tok
),
pt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM((length(bin(gap)) + 6) // 7) AS BIGINT) AS delta_bytes,
         CAST(SUM((length(bin(doc_id + 1)) + 6) // 7) AS BIGINT)
           AS raw_bytes,
         CAST(SUM(gap) AS BIGINT) AS sum_gap
  FROM g GROUP BY w
)
SELECT CAST(length(bin(df)) AS BIGINT) AS df_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(df) AS BIGINT) AS n_postings,
       CAST(SUM(delta_bytes) AS BIGINT) AS delta_bytes,
       CAST(SUM(raw_bytes) AS BIGINT) AS raw_bytes,
       CAST(SUM(raw_bytes) - SUM(delta_bytes) AS DOUBLE) / SUM(raw_bytes)
         AS savings_frac,
       CAST(SUM(sum_gap) AS DOUBLE) / SUM(df) AS avg_gap
FROM pt GROUP BY df_bucket
""",
)
def search_postings_delta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index size planning: per-term postings lists (sorted doc
    ids) are stored delta-encoded + varint in every real engine
    (Lucene/ES — the reference's sink indexes into exactly such lists);
    this query prices that layout BEFORE building it. Per term: gaps
    between consecutive doc ids (first gap = doc_id + 1, so every gap
    >= 1), varint size = ceil(bitlen/7) bytes where bitlen =
    length(bin(gap)) — exact integer arithmetic, no logs. Rolled up by
    document-frequency octave (df_bucket = floor(log2 df) + 1, also via
    bin-length): frequent terms have dense lists -> tiny gaps -> 1-byte
    varints (high savings_frac); rare terms approach raw doc-id cost.

    The aggregate answers the 100 TB capacity question — index bytes by
    term class, hence what df-threshold to stopword away — from one
    token-grain pass: distinct (term, doc) -> per-term window (shuffle
    keyed by term, Zipf-head skew bounded because postings are DISTINCT
    doc ids <= |docs|) -> term-grain rollup to ~64 octave rows.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    g = tok.select(
        "w",
        "doc_id",
        (
            F.col("doc_id")
            - F.coalesce(
                F.lag("doc_id").over(
                    Window.partitionBy("w").orderBy("doc_id")
                ),
                F.lit(-1),
            )
        ).alias("gap"),
    )
    pt = g.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum(F.expr("(length(bin(gap)) + 6) DIV 7"))
        .cast("bigint")
        .alias("delta_bytes"),
        F.sum(F.expr("(length(bin(doc_id + 1)) + 6) DIV 7"))
        .cast("bigint")
        .alias("raw_bytes"),
        F.sum("gap").cast("bigint").alias("sum_gap"),
    )
    return pt.groupBy(
        F.length(F.bin("df")).cast("bigint").alias("df_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("df").cast("bigint").alias("n_postings"),
        F.sum("delta_bytes").cast("bigint").alias("delta_bytes"),
        F.sum("raw_bytes").cast("bigint").alias("raw_bytes"),
        (
            (F.sum("raw_bytes") - F.sum("delta_bytes")).cast("double")
            / F.sum("raw_bytes")
        ).alias("savings_frac"),
        (F.sum("sum_gap").cast("double") / F.sum("df")).alias("avg_gap"),
    )


UNIMAX_EPOCHS = 4  # max passes over any single source (the UniMax cap)


@register(
    "corpus_mix_unimax",
    oracle=f"""
WITH tok AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST({UNIMAX_EPOCHS} * SUM(len(string_split(text, ' '))) AS BIGINT)
           AS capacity
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS budget,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM tok
),
r AS (
  SELECT source, n_tokens, capacity,
         ROW_NUMBER() OVER (ORDER BY capacity, source) AS rk,
         SUM(capacity) OVER (ORDER BY capacity, source
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM tok
),
f AS (
  SELECT r.source, r.n_tokens, r.capacity, r.rk, r.cum, t.budget, t.n,
         CASE WHEN r.cum + (t.n - r.rk) * r.capacity <= t.budget
              THEN 1 ELSE 0 END AS unc
  FROM r, tot t
),
k AS (
  SELECT CAST(SUM(unc) AS BIGINT) AS kk,
         CAST(COALESCE(SUM(CASE WHEN unc = 1 THEN capacity END), 0)
              AS BIGINT) AS ss
  FROM f
),
cap AS (
  SELECT CASE WHEN k.kk >= t.n THEN NULL
              ELSE (t.budget - k.ss) // (t.n - k.kk) END AS cap
  FROM k, tot t
)
SELECT f.source, f.n_tokens, f.capacity,
       CAST(CASE WHEN cap.cap IS NULL THEN f.capacity
                 ELSE LEAST(f.capacity, cap.cap) END AS BIGINT)
         AS allocated_tokens,
       CAST(CASE WHEN cap.cap IS NULL THEN f.capacity
                 ELSE LEAST(f.capacity, cap.cap) END AS DOUBLE) / f.n_tokens
         AS epochs,
       (cap.cap IS NOT NULL AND f.capacity > cap.cap) AS is_capped
FROM f, cap
""",
)
def corpus_mix_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixing (Chung et al. 2023): distribute the token budget as
    uniformly as possible across sources, but never take more than
    {UNIMAX_EPOCHS} epochs of any one source — the published answer to
    "temperature sampling either starves small languages or overfits
    them". Structurally it is the same exact-integer waterfill as
    corpus_mix_waterfill but on capacities E x n_tokens with the full
    token total as budget (shared `_waterfill_capacities` core, so the
    two strategies cannot drift): small sources are repeated up to E
    times (epochs > 1), the heavy tail is cut at the uniform cap, and
    the budget is filled exactly.

    Together the three registered mixers span the design space a 100 TB
    pre-training run picks from: waterfill (cap big sources, one epoch
    max), temperature (smooth proportional reweighting), UniMax
    (uniform-with-epoch-cap). `epochs` (one IEEE division of BIGINTs)
    is the per-source audit column: > 1 means repetition, exactly E
    means the cap bound, < 1 means the uniform share undershoots even
    one pass.

    Scale shape: identical to waterfill — one token-count groupBy, a
    |sources|-row window, broadcast scalars; allocation plans for a
    100 TB corpus are computed from the source-stats table in
    milliseconds.
    """
    alloc = _waterfill_capacities(
        spark,
        sf_dir,
        capacity=F.col("n_tokens") * UNIMAX_EPOCHS,
        budget_expr="sum(n_tokens)",
    )
    return alloc.select(
        "source",
        "n_tokens",
        "capacity",
        F.col("allocated").alias("allocated_tokens"),
        (F.col("allocated").cast("double") / F.col("n_tokens")).alias(
            "epochs"
        ),
        "is_capped",
    )


# --- champion-list static index pruning -------------------------------------

CHAMPION_M = 20  # postings kept per term in the champion list


@register(
    "search_champion_lists",
    oracle=f"""
WITH {_SQL_BM25_CTE},
champ AS (
  SELECT doc_id, w, tf FROM (
    SELECT doc_id, w, tf,
           ROW_NUMBER() OVER (PARTITION BY w
                              ORDER BY tf DESC, doc_id) AS rn
    FROM tf
  ) t WHERE rn <= {CHAMPION_M}
),
ts_c AS (
  SELECT t.doc_id,
         ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
            / (CAST(f.df AS DOUBLE) + 0.5))
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))))) AS ts
  FROM champ t JOIN dfq f USING (w) JOIN dl l USING (doc_id)
  CROSS JOIN stats s
),
agg_c AS (
  SELECT doc_id,
         CAST(SUM(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) AS bm25_c
  FROM ts_c GROUP BY doc_id
),
top_f AS (
  SELECT doc_id, bm25,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
  FROM agg QUALIFY rk <= {BM25_TOPK}
),
top_c AS (
  SELECT doc_id, bm25_c,
         ROW_NUMBER() OVER (ORDER BY bm25_c DESC, doc_id) AS rk
  FROM agg_c QUALIFY rk <= {BM25_TOPK}
)
SELECT f.rk,
       f.doc_id AS doc_full, f.bm25 AS score_full,
       c.doc_id AS doc_champ, c.bm25_c AS score_champ,
       f.doc_id = c.doc_id AS same_doc
FROM top_f f JOIN top_c c ON f.rk = c.rk
""",
)
def search_champion_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion-list (top-m postings) static index pruning — the classic
    IR scale lever (Manning IR §7.1.3): each query term keeps only its
    m highest-tf postings; query evaluation scores ONLY documents
    surviving in some champion list, with unchanged idf. The query
    compares the pruned top-k against the exact BM25 top-k rank by rank
    (same_doc per position) — the retrieval-quality-vs-cost audit run
    before enabling pruning in a serving index.

    Deterministic: champion selection is an integer (tf DESC, doc_id)
    rank; the scoring formula and DECIMAL(28,6) sum are shared verbatim
    with the exact-BM25 CTE.

    Scale shape: this is THE postings-bound trick for 100 TB text — the
    scored candidate set drops from Σ df(t) to Σ min(df(t), m) = O(|q|·m)
    regardless of corpus size, turning hot-term queries from
    posting-scan-bound into constant work. The champion lists themselves
    are a top-m-per-term window over the tf table, built once at index
    time; idf/dl stay full-corpus statistics (tiny broadcast).
    """
    agg = _bm25_agg(spark, sf_dir, BM25_TERMS)
    # the component relations champion pruning needs (tf/dfq/dl/stats)
    # are index-time tables — read them from the shared postings +
    # dl/stats memos (re-tokenizing here would be a second corpus scan
    # per execution; the memo read is integer-identical — dl = SUM(tf)
    # per doc equals the raw token count).
    tf_all = _postings_memo(spark, sf_dir)
    dl, stats = _dl_stats_memo(spark, sf_dir)
    tf = tf_all.filter(F.col("w").isin(*BM25_TERMS))
    dfq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    champ = ranked_topk_per(
        tf, ["w"], [F.col("tf").desc(), "doc_id"], CHAMPION_M, rk_col=None
    )
    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    tfn = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl))
    )
    ts_c = (
        champ.join(dfq, "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tfn).alias("ts"))
    )
    agg_c = ts_c.groupBy("doc_id").agg(
        F.sum(F.col("ts").cast("decimal(28,6)")).cast("double").alias("bm25_c")
    )
    top_f = ranked_topk(
        agg, [F.col("bm25").desc(), "doc_id"], BM25_TOPK, rk_cast="bigint"
    ).select("rk", F.col("doc_id").alias("doc_full"), F.col("bm25").alias("score_full"))
    top_c = ranked_topk(
        agg_c, [F.col("bm25_c").desc(), "doc_id"], BM25_TOPK, rk_cast="bigint"
    ).select("rk", F.col("doc_id").alias("doc_champ"), F.col("bm25_c").alias("score_champ"))
    return top_f.join(top_c, "rk").select(
        "rk", "doc_full", "score_full", "doc_champ", "score_champ",
        (F.col("doc_full") == F.col("doc_champ")).alias("same_doc"),
    )


# --- collocation mining + readability heuristic ------------------------------

PMI_MIN_SUPPORT = 5  # bigram must occur this often to get a stable PMI
PMI_TOP = 30  # emitted rows, ranked by support with lexical tiebreak


@register(
    "corpus_bigram_pmi",
    oracle=f"""
WITH wp AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM wp GROUP BY w),
n1 AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tokens FROM uni),
big AS (
  SELECT w AS w1, LEAD(w) OVER win AS w2
  FROM wp
  WINDOW win AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w) OVER win IS NOT NULL
),
bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM big GROUP BY w1, w2
),
n2 AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bigrams FROM bc),
scored AS (
  SELECT bc.w1, bc.w2, bc.c_ab, ua.c_w AS c_w1, ub.c_w AS c_w2,
         CAST(CAST(ln(
           (CAST(bc.c_ab AS DOUBLE) / CAST(n2.n_bigrams AS DOUBLE))
           / ((CAST(ua.c_w AS DOUBLE) / CAST(n1.n_tokens AS DOUBLE))
              * (CAST(ub.c_w AS DOUBLE) / CAST(n1.n_tokens AS DOUBLE)))
         ) AS DECIMAL(28,6)) AS DOUBLE) AS pmi
  FROM bc
  JOIN uni ua ON ua.w = bc.w1
  JOIN uni ub ON ub.w = bc.w2
  CROSS JOIN n1 CROSS JOIN n2
  WHERE bc.c_ab >= {PMI_MIN_SUPPORT}
)
SELECT w1, w2, c_ab, c_w1, c_w2, pmi
FROM scored
ORDER BY c_ab DESC, w1, w2
LIMIT {PMI_TOP}
""",
)
def corpus_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over word bigrams — collocation
    strength, the association metric behind phrase-table extraction and
    tokenizer-merge curation that raw counts (corpus_top_bigrams) miss:
    'of the' is frequent but expected, a strong collocation is frequent
    AND surprising given its parts.

    PMI = ln( p(ab) / (p(a)·p(b)) ) with a FIXED parenthesization of
    IEEE-exact divisions/multiply on BIGINT-derived doubles in both
    dialects, one ln per surviving bigram quantized to DECIMAL(28,6)
    (the bigram-LM discipline). Support floor {PMI_MIN_SUPPORT} kills
    the low-count PMI pathology (hapax pairs score highest); output is
    ranked by INTEGER support with lexical tiebreak — no float ordering
    crosses the engine boundary.

    Scale shape: one token explode feeds both the unigram and bigram hash
    aggs (map-side partials); the scoring joins key on words, where the
    Zipf head is exactly the high-support survivors — both join sides are
    post-aggregation count tables, orders of magnitude under token grain.
    The two 1-row totals broadcast.
    """
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - 1)
    mk = lambda i: F.struct(  # noqa: E731
        F.element_at(words, i).alias("w1"),
        F.element_at(words, i + 1).alias("w2"),
    )
    arr = F.when(n >= 2, F.transform(idx, mk)).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )
    toks = d.select("doc_id", F.explode(words).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    n1 = uni.agg(F.sum("c_w").cast("bigint").alias("n_tokens"))
    bg = d.select(F.explode(arr).alias("b")).select("b.w1", "b.w2")
    bc = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_SUPPORT)
    )
    # n_bigrams is the UNFILTERED total (p(ab) is over all bigram slots),
    # so count bg before the support filter.
    n2 = bg.agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2"))
    pmi = (
        F.log(
            (F.col("c_ab").cast("double") / F.col("n_bigrams").cast("double"))
            / (
                (F.col("c_w1").cast("double") / F.col("n_tokens").cast("double"))
                * (F.col("c_w2").cast("double") / F.col("n_tokens").cast("double"))
            )
        )
        .cast("decimal(28,6)")
        .cast("double")
    )
    return (
        bc.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select("w1", "w2", "c_ab", "c_w1", "c_w2", pmi.alias("pmi"))
        .orderBy(F.col("c_ab").desc(), "w1", "w2")
        .limit(PMI_TOP)
    )


@register(
    "text_readability_score",
    oracle="""
WITH m AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                  1) AS n_sents,
         CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
           AS n_syll
  FROM documents
),
s AS (
  SELECT source,
         CAST(FLOOR(
           (206.835
            - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
            - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)))
           / 10) AS BIGINT) AS band
  FROM m WHERE n_words > 0
)
SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM s GROUP BY source, band
""",
)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease-shaped readability banding per source — the
    classic quality-scoring heuristic (sentence length x syllable
    density) next to the Gopher gates: sources whose mass sits in
    negative or >100 bands are boilerplate/garbage candidates, not
    prose.

    Syllables are approximated as vowel GROUPS (one regexp pass), the
    standard cheap proxy; sentences as terminal-punctuation runs with a
    floor of 1. The score itself is a fixed parenthesization of IEEE
    ops on integer-derived doubles — identical bit-for-bit across
    engines — and only the INTEGER decade band crosses the output
    boundary, so the hash compare carries no float at all.

    Scale shape: three regexp/split passes per document (token grain,
    fully partition-local after spread) into a (source, band) hash agg
    whose key space is tiny. No joins, no window, one shuffle.
    """
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    n_words = F.size(F.split(F.col("text"), " ")).cast("bigint")
    n_sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    n_syll = F.regexp_count(
        F.lower(F.col("text")), F.lit("[aeiou]+")
    ).cast("bigint")
    score = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sents").cast("double"))
        - F.lit(84.6)
        * (F.col("n_syll").cast("double") / F.col("n_words").cast("double"))
    )
    return (
        d.select("source", n_words.alias("n_words"),
                 n_sents.alias("n_sents"), n_syll.alias("n_syll"))
        .filter(F.col("n_words") > 0)
        .select(
            "source",
            F.floor(score / F.lit(10.0)).cast("bigint").alias("band"),
        )
        .groupBy("source", "band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# --- RAKE keyphrase extraction ------------------------------------------------

RAKE_MIN_OCC = 3  # a phrase must recur to be a keyphrase, not a typo
RAKE_TOP = 25

_SQL_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_keyphrase_rake",
    oracle=f"""
WITH wp AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
),
flagged AS (
  SELECT doc_id, i, lower(w) AS w,
         CASE WHEN lower(w) IN ({_SQL_STOP_LIST}) OR w = ''
              THEN 1 ELSE 0 END AS is_stop
  FROM wp
),
grp AS (
  SELECT doc_id, i, w, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS g
  FROM flagged
),
member AS (
  SELECT doc_id, g, i, w,
         CAST(COUNT(*) OVER (PARTITION BY doc_id, g) AS BIGINT) AS plen
  FROM grp WHERE is_stop = 0
),
wstat AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS degree
  FROM member GROUP BY w
),
pscore AS (
  SELECT m.doc_id, m.g,
         string_agg(m.w, ' ' ORDER BY m.i) AS phrase,
         CAST(MIN(m.plen) AS BIGINT) AS n_words,
         CAST(SUM(CAST(CAST(s.degree AS DOUBLE) / CAST(s.freq AS DOUBLE)
                       AS DECIMAL(28,6))) AS DOUBLE) AS rake_score
  FROM member m JOIN wstat s ON s.w = m.w
  GROUP BY m.doc_id, m.g
)
SELECT phrase, CAST(MIN(n_words) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       MIN(rake_score) AS rake_score
FROM pscore
GROUP BY phrase
HAVING COUNT(*) >= {RAKE_MIN_OCC}
ORDER BY n_occurrences DESC, phrase
LIMIT {RAKE_TOP}
""",
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (gaps-and-islands on the
    stopword flag); each word scores degree/frequency (degree = summed
    length of phrases containing it — co-occurrence reach); a phrase
    scores the sum of its words. The unsupervised keyword extractor a
    corpus-curation pass runs to label domains and spot boilerplate
    phrases that n-gram counts rank too low.

    Determinism: degree and frequency are exact BIGINTs; each word's
    degree/freq is ONE IEEE division quantized to DECIMAL(28,6) before
    the order-free phrase sum (identical occurrences of a phrase sum
    identical word scores — MIN picks that shared value); ranking and
    the LIMIT cut use integer occurrence counts with a lexical
    tiebreak, never floats.

    Scale shape: two window passes over token grain sharing the
    (doc_id) partitioning, one word-stat hash agg whose key space is
    the vocabulary, and a vocabulary-keyed join back — the same
    postings economics as BM25; nothing is pairwise.
    """
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    wp = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w0"),
    ).select("doc_id", (F.col("pos") + 1).alias("i"), F.lower("w0").alias("w"))
    is_stop = (
        F.col("w").isin(*STOPWORDS) | (F.col("w") == "")
    ).cast("int")
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = wp.select(
        "doc_id", "i", "w", is_stop.alias("is_stop")
    ).withColumn("g", F.sum("is_stop").over(wrun))
    wplen = Window.partitionBy("doc_id", "g")
    member = (
        grp.filter(F.col("is_stop") == 0)
        .withColumn("plen", F.count(F.lit(1)).over(wplen).cast("bigint"))
    )
    wstat = member.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    wscore = (
        F.col("degree").cast("double") / F.col("freq").cast("double")
    ).cast("decimal(28,6)")
    pscore = (
        member.join(wstat, "w")
        .groupBy("doc_id", "g")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.min("plen").cast("bigint").alias("n_words"),
            F.sum(wscore).cast("double").alias("rake_score"),
        )
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.min("n_words").cast("bigint").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("rake_score").alias("rake_score"),
        )
        .filter(F.col("n_occurrences") >= RAKE_MIN_OCC)
        .orderBy(F.col("n_occurrences").desc(), "phrase")
        .limit(RAKE_TOP)
    )


# Bigram LM: add-one smoothing, 50/50 md5 train/heldout split, ln
# quantized to micro-units so per-doc accumulation is exact BIGINT.
LM_SPLIT_EXPR = (
    "CAST(CONCAT('0x', substr(md5('lmsplit:' || CAST(doc_id AS VARCHAR)),"
    " 1, 1)) AS INTEGER) < 8"
)


@register(
    "corpus_bigram_lm_perplexity",
    oracle=f"""
WITH tr AS (SELECT doc_id, text FROM documents WHERE {LM_SPLIT_EXPR}),
he AS (SELECT doc_id, source, text FROM documents
       WHERE NOT ({LM_SPLIT_EXPR})),
twp AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM tr
),
tb AS (
  SELECT w AS w1, LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM twp QUALIFY w2 IS NOT NULL
),
c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM tb GROUP BY w1, w2
),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT w) + 1 AS BIGINT) AS v FROM twp),
hwp AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM he
),
hb AS (
  SELECT doc_id, source, w AS w1,
         LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM hwp QUALIFY LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
),
sc AS (
  SELECT hb.doc_id, hb.source,
         CAST(CAST(ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                      / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE))
                   AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS lp_u
  FROM hb
  LEFT JOIN c12 ON c12.w1 = hb.w1 AND c12.w2 = hb.w2
  LEFT JOIN c1 ON c1.w1 = hb.w1
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(lp_u) AS BIGINT) AS slp
  FROM sc GROUP BY doc_id, source
)
SELECT doc_id, source, n_bigrams,
       CAST(-slp AS DOUBLE) / n_bigrams / 1000000.0 AS avg_nll,
       CAST(CAST(exp(CAST(-slp AS DOUBLE) / n_bigrams / 1000000.0)
                 AS DECIMAL(18,6)) AS DOUBLE) AS ppl,
       CAST(NTILE(4) OVER (
         ORDER BY CAST(-slp AS DOUBLE) / n_bigrams, doc_id) AS BIGINT)
         AS ppl_quartile
FROM agg
""",
)
def corpus_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model perplexity as a data-quality score — the
    CCNet/KenLM recipe in pure SQL algebra: train an add-one-smoothed
    bigram LM on an md5-gated half of the corpus, score the held-out
    half per document, and bucket into perplexity quartiles (the usual
    head/middle/tail quality split used to gate or re-weight pretraining
    data). p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V); OOV words fall out of the
    LEFT JOINs as c=0, which IS the <unk> treatment under add-one.

    Determinism: each bigram's ln is quantized to DECIMAL(28,6) and
    lifted to exact micro-unit BIGINTs, so the PER-DOC SUM — the one
    place float error would accumulate — is exact integer addition;
    avg_nll and ppl are single fixed-order IEEE ops on those integers
    (ppl re-quantized). The quartile NTILE orders by (avg_nll, doc_id) —
    identical doubles, unique tiebreak.

    Scale shape: the LM is two hash aggs over the train half's bigram
    explode (map-side partials, Zipf-concentrated keys); scoring joins
    the held-out bigrams against the count tables on word keys — at
    100 TB both sides of each join are post-aggregation tables orders of
    magnitude under token grain, and the per-doc reduce reuses the doc
    partitioning of the explode. The V and split gates are one broadcast
    row + a hash compare.
    """
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    is_train = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("lmsplit:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        < 8
    )
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    mk = lambda i: F.struct(  # noqa: E731
        F.element_at(words, i).alias("w1"),
        F.element_at(words, i + 1).alias("w2"),
    )
    bigrams = F.when(
        n >= 2, F.transform(F.sequence(F.lit(1), n - 1), mk)
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    tr = d.filter(is_train)
    he = d.filter(~is_train)
    tb = tr.select(F.explode(bigrams).alias("b")).select("b.w1", "b.w2")
    c12 = tb.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    v = tr.select(F.explode(words).alias("w")).agg(
        (F.countDistinct("w") + 1).cast("bigint").alias("v")
    )
    hb = he.select("doc_id", "source", F.explode(bigrams).alias("b")).select(
        "doc_id", "source", "b.w1", "b.w2"
    )
    lp_u = (
        F.log(
            (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast(
                "double"
            )
        )
        .cast("decimal(28,6)")
        * 1000000
    ).cast("bigint")
    sc = (
        hb.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .select("doc_id", "source", lp_u.alias("lp_u"))
    )
    agg = sc.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("lp_u").cast("bigint").alias("slp"),
    )
    avg_nll = (
        (-F.col("slp")).cast("double") / F.col("n_bigrams") / F.lit(1e6)
    )
    # NTILE(4) OVER (ORDER BY avg_nll, doc_id) as a window would sort
    # every held-out document in one partition; the distributed exact
    # rank feeds NTILE's bucket arithmetic instead — identical quartiles
    # (the first n%4 buckets get floor(n/4)+1 rows, the rest floor(n/4)).
    scored = agg.select(
        "doc_id", "source", "n_bigrams", avg_nll.alias("avg_nll")
    )
    quartile = F.expr(
        "CASE WHEN cum <= (n % 4) * (n DIV 4 + 1) "
        "THEN (cum - 1) DIV (n DIV 4 + 1) + 1 "
        "ELSE (n % 4) + (cum - (n % 4) * (n DIV 4 + 1) - 1) "
        "DIV greatest(n DIV 4, 1) + 1 END"
    )
    return (
        range_prefix_sum(scored, ["avg_nll", "doc_id"], total_col="n")
        .select(
            "doc_id",
            "source",
            "n_bigrams",
            "avg_nll",
            F.exp(F.col("avg_nll"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("ppl"),
            quartile.cast("bigint").alias("ppl_quartile"),
        )
    )


# Winnowing (MOSS): k-gram rolling fingerprints, one selected minimum
# per sliding window of WIN_W grams. Position is packed into the low
# bits of the hash (inverted) so MIN() picks (min hash, rightmost pos)
# — the classic tie rule — in one exact BIGINT aggregate.
WIN_K = 8  # chars per gram
WIN_W = 4  # grams per window
WIN_POS_BASE = 2097152  # 2^21: supports docs up to 2M chars
WIN_MIN_SHARED = 3
WIN_TOP = 100
# Hot-fingerprint cap (the LSH hot-bucket discipline): a fingerprint in
# more than WIN_MAX_DF docs is corpus boilerplate, carries no clone
# signal, and its df² pair contribution is what turns the report
# quadratic — measured 7.5e9 pair mass uncapped vs 2.6e7 capped on the
# 10x rehearsal corpus (287x).
WIN_MAX_DF = 64


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
WITH pos AS (
  SELECT doc_id,
         unnest(generate_series(1, len(text) - {WIN_K - 1})) AS p
  FROM documents
),
hv AS (
  SELECT pos.doc_id, pos.p,
         CAST(CONCAT('0x', substr(md5(substr(d.text, pos.p, {WIN_K})),
                                  1, 8)) AS BIGINT)
           * {WIN_POS_BASE} + ({WIN_POS_BASE - 1} - pos.p) AS v
  FROM pos JOIN documents d ON d.doc_id = pos.doc_id
),
sel AS (
  SELECT doc_id,
         MIN(v) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN {WIN_W - 1} PRECEDING AND CURRENT ROW)
           AS mv,
         p
  FROM hv
),
fpd AS (
  SELECT DISTINCT doc_id, mv // {WIN_POS_BASE} AS fph
  FROM sel WHERE p >= {WIN_W}
),
fdf AS (SELECT fph, CAST(COUNT(*) AS BIGINT) AS df FROM fpd GROUP BY fph),
rare AS (
  SELECT fpd.doc_id, fpd.fph
  FROM fpd JOIN fdf ON fdf.fph = fpd.fph
  WHERE fdf.df <= {WIN_MAX_DF}
),
perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM rare GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         CAST(COUNT(*) AS BIGINT) AS shared_fp
  FROM rare a JOIN rare b ON a.fph = b.fph AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc1, p.doc2, p.shared_fp,
       pa.n_fp AS n_fp1, pb.n_fp AS n_fp2,
       CAST(p.shared_fp AS DOUBLE)
         / CAST(LEAST(pa.n_fp, pb.n_fp) AS DOUBLE) AS containment
FROM pairs p
JOIN perdoc pa ON pa.doc_id = p.doc1
JOIN perdoc pb ON pb.doc_id = p.doc2
WHERE p.shared_fp >= {WIN_MIN_SHARED}
ORDER BY p.shared_fp DESC, p.doc1, p.doc2
LIMIT {WIN_TOP}
""",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm, Schleimer et
    al. SIGMOD'03) + the cross-doc overlap report: hash every {WIN_K}-char
    gram, slide a {WIN_W}-gram window, keep each window's minimum hash
    (ties to the RIGHTMOST position), and report document pairs sharing
    >= {WIN_MIN_SHARED} selected fingerprints with a containment ratio.
    Winnowing guarantees any shared substring of length
    k + w - 1 = {WIN_K + WIN_W - 1} chars produces at least one shared
    fingerprint — position-robust plagiarism/clone detection that whole-
    doc hashing (text_fingerprint) and shingle-set MinHash both miss at
    the substring grain.

    Determinism: the (min-hash, rightmost-pos) window rule collapses to
    ONE exact BIGINT MIN by packing the inverted position into the low
    21 bits: v = h·2^21 + (2^21−1−p); integer div/mod unpack. Counts and
    the final containment division are exact.

    Scale shape: gram hashing is map-side (position explode after column
    pruning); the per-doc window is linear in doc length and partition-
    local after spread(); the pair join keys on SELECTED fingerprints —
    winnowing's ~2/(w+1) selection density bounds the join input to a
    fraction of gram grain, and the df ≤ {WIN_MAX_DF} hot-fingerprint
    cap bounds the join's pair mass to Σ df² over RARE fingerprints
    (the 10x rehearsal measured 7.5e9 uncapped vs 2.6e7 capped — the
    uncapped form is quadratic in corpus size on Zipf boilerplate). At
    100 TB the report joins capped fingerprint tables, never documents.
    """
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    nchars = F.length("text")
    hv = (
        d.select(
            "doc_id",
            "text",
            F.explode(
                F.when(
                    nchars >= WIN_K,
                    F.sequence(F.lit(1), nchars - (WIN_K - 1)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("p"),
        )
        .select(
            "doc_id",
            "p",
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("text").substr(F.col("p"), F.lit(WIN_K))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                * WIN_POS_BASE
                + (F.lit(WIN_POS_BASE - 1) - F.col("p"))
            ).alias("v"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(-(WIN_W - 1), 0)
    )
    sel = hv.select(
        "doc_id", "p", F.min("v").over(w).alias("mv")
    ).filter(F.col("p") >= WIN_W)
    fpd = sel.select(
        "doc_id", F.expr(f"mv DIV {WIN_POS_BASE}").alias("fph")
    ).distinct()
    fdf = fpd.groupBy("fph").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    rare = (
        fpd.join(fdf, "fph")
        .filter(F.col("df") <= WIN_MAX_DF)
        .select("doc_id", "fph")
    )
    perdoc = rare.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp")
    )
    a = rare.select(F.col("doc_id").alias("doc1"), "fph")
    b = rare.select(F.col("doc_id").alias("doc2"), "fph")
    pairs = (
        a.join(b, "fph")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fp"))
        .filter(F.col("shared_fp") >= WIN_MIN_SHARED)
    )
    pa = perdoc.select(F.col("doc_id").alias("doc1"), F.col("n_fp").alias("n_fp1"))
    pb = perdoc.select(F.col("doc_id").alias("doc2"), F.col("n_fp").alias("n_fp2"))
    return (
        pairs.join(pa, "doc1")
        .join(pb, "doc2")
        .select(
            "doc1",
            "doc2",
            "shared_fp",
            "n_fp1",
            "n_fp2",
            (
                F.col("shared_fp").cast("double")
                / F.least("n_fp1", "n_fp2").cast("double")
            ).alias("containment"),
        )
        .orderBy(F.col("shared_fp").desc(), "doc1", "doc2")
        .limit(WIN_TOP)
    )


# ES bool-query emulation: must/should/must_not clauses over the term
# postings, minimum_should_match, and an idf-weighted should score.
BOOL_MUST = ("join",)
BOOL_SHOULD = ("stream", "window", "vector")
BOOL_MUST_NOT = ("slow",)
BOOL_MIN_SHOULD = 1
BOOL_TOPK = 20
_BOOL_QT_SQL = ", ".join(
    [f"('{t}', 'must')" for t in BOOL_MUST]
    + [f"('{t}', 'should')" for t in BOOL_SHOULD]
    + [f"('{t}', 'must_not')" for t in BOOL_MUST_NOT]
)


@register(
    "search_bool_query",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
),
qt AS (SELECT * FROM (VALUES {_BOOL_QT_SQL}) AS t(w, clause)),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
post AS (SELECT t.doc_id, t.w, q.clause FROM toks t JOIN qt q ON q.w = t.w),
df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY w),
sc AS (
  SELECT p.doc_id,
         CAST(SUM(CASE WHEN p.clause = 'must' THEN 1 ELSE 0 END) AS BIGINT)
           AS must_cnt,
         CAST(SUM(CASE WHEN p.clause = 'should' THEN 1 ELSE 0 END) AS BIGINT)
           AS should_cnt,
         CAST(SUM(CASE WHEN p.clause = 'must_not' THEN 1 ELSE 0 END)
              AS BIGINT) AS not_cnt,
         CAST(SUM(CASE WHEN p.clause IN ('must', 'should') THEN
             CAST((CAST(n.n_docs - d.df AS DOUBLE) + 0.5)
                  / (CAST(d.df AS DOUBLE) + 0.5) AS DECIMAL(28,6))
             ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE) AS score
  FROM post p JOIN df d ON d.w = p.w CROSS JOIN n
  GROUP BY p.doc_id
)
SELECT doc_id, should_cnt, score, rk FROM (
  SELECT doc_id, should_cnt, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
  FROM sc
  WHERE must_cnt = {len(BOOL_MUST)} AND not_cnt = 0
        AND should_cnt >= {BOOL_MIN_SHOULD}
) t WHERE rk <= {BOOL_TOPK}
""",
)
def search_bool_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch bool-query semantics — the query shape the
    reference's sink exists to serve (its CDC rows land in ES indexes
    that are queried with bool must/should/must_not;
    observer6/ElasticSearchBulkOperator.java builds those indexes):
    must terms are mandatory (AND), must_not excludes, should terms
    contribute an idf-weighted score with minimum_should_match =
    {BOOL_MIN_SHOULD}. Scoring sums the raw-odds idf
    (N−df+0.5)/(df+0.5) over matched must+should terms — the same
    transcendental-free idf as search_bm25_topk, quantized per term to
    DECIMAL(28,6) so the per-doc sum is order-free.

    Scale shape: inverted-index discipline — the qt join prunes the
    token explode to the query's own postings before any aggregation;
    df is a |query terms|-row table; the clause counts and score reduce
    in ONE hash agg per doc (no per-clause subqueries, no EXCEPT); the
    top-k is a rank window over the qualifying docs only. At 100 TB a
    query touches its terms' postings, never the corpus.
    """
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).distinct()
    qt = spark.createDataFrame(
        [(t, "must") for t in BOOL_MUST]
        + [(t, "should") for t in BOOL_SHOULD]
        + [(t, "must_not") for t in BOOL_MUST_NOT],
        "w string, clause string",
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    post = toks.join(F.broadcast(qt), "w")
    df = post.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    zero_dec = F.lit(0).cast("decimal(28,6)")
    sc = (
        post.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("clause") == "must", 1).otherwise(0))
            .cast("bigint")
            .alias("must_cnt"),
            F.sum(F.when(F.col("clause") == "should", 1).otherwise(0))
            .cast("bigint")
            .alias("should_cnt"),
            F.sum(F.when(F.col("clause") == "must_not", 1).otherwise(0))
            .cast("bigint")
            .alias("not_cnt"),
            F.sum(
                F.when(
                    F.col("clause").isin("must", "should"),
                    idf.cast("decimal(28,6)"),
                ).otherwise(zero_dec)
            )
            .cast("double")
            .alias("score"),
        )
    )
    hits = sc.filter(
        (F.col("must_cnt") == len(BOOL_MUST))
        & (F.col("not_cnt") == 0)
        & (F.col("should_cnt") >= BOOL_MIN_SHOULD)
    )
    return ranked_topk(
        hits.select("doc_id", "should_cnt", "score"),
        [F.col("score").desc(), "doc_id"], BOOL_TOPK, rk_cast="bigint",
    )


# Prefix / wildcard queries: expand the pattern against the term
# DICTIONARY first (Lucene's model), then equi-join the expansion set to
# the postings — the pattern never scans doc-grain data.
WILD_PATTERNS = (("prefix:s", "s%"), ("wildcard:_a__e", "_a__e"))
WILD_TOPK = 20
_WILD_SQL = ", ".join(f"('{c}', '{p}')" for c, p in WILD_PATTERNS)


@register(
    "search_prefix_wildcard",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
),
vocab AS (SELECT DISTINCT w FROM toks),
pats AS (SELECT * FROM (VALUES {_WILD_SQL}) AS t(clause, pat)),
expand AS (
  SELECT p.clause, v.w FROM vocab v JOIN pats p ON v.w LIKE p.pat
),
nx AS (
  SELECT clause, CAST(COUNT(*) AS BIGINT) AS n_expansions
  FROM expand GROUP BY clause
),
hits AS (
  SELECT e.clause, t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_terms
  FROM expand e JOIN toks t ON t.w = e.w
  GROUP BY e.clause, t.doc_id
)
SELECT clause, doc_id, n_matched_terms, n_expansions, rk FROM (
  SELECT h.clause, h.doc_id, h.n_matched_terms, nx.n_expansions,
         ROW_NUMBER() OVER (PARTITION BY h.clause
             ORDER BY h.n_matched_terms DESC, h.doc_id) AS rk
  FROM hits h JOIN nx ON nx.clause = h.clause
) t WHERE rk <= {WILD_TOPK}
""",
)
def search_prefix_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix and wildcard term queries, Lucene-style: the pattern is
    expanded against the term DICTIONARY (distinct vocab — Zipf-bounded,
    orders of magnitude under token grain), and the expansion set then
    equi-joins the postings like any multi-term OR query. This is how
    ES executes `prefix` and `wildcard` queries, and why they're safe
    at scale there and here — the LIKE scan touches the dictionary,
    never a fact table. Output: per clause, the top docs by number of
    matched expansion terms, with the expansion width alongside.

    Determinism: pure integer counts and lexical ranks. Scale shape:
    the pattern×vocab match is a broadcast nested-loop over the tiny
    pattern table (flagged-safe: broadcast side is 2 rows); everything
    downstream is equi-joins + hash aggs; top-k per clause is a rank
    window over qualifying docs.
    """
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).distinct()
    vocab = toks.select("w").distinct()
    pats = spark.createDataFrame(
        list(WILD_PATTERNS), "clause string, pat string"
    )
    expand = vocab.crossJoin(F.broadcast(pats)).filter(
        F.expr("w LIKE pat")
    )
    nx = expand.groupBy("clause").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_expansions")
    )
    hits = (
        expand.join(toks, "w")
        .groupBy("clause", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched_terms"))
    )
    return ranked_topk_per(
        hits.join(F.broadcast(nx), "clause"),
        ["clause"], [F.col("n_matched_terms").desc(), "doc_id"], WILD_TOPK,
        rk_cast="bigint",
    ).select("clause", "doc_id", "n_matched_terms", "n_expansions", "rk")


LLR_MIN_SUPPORT = 5
LLR_TOP = 100
# one 2x2 G^2 term: k * ln(k*N / (rowtot*coltot)), 0 when k = 0 —
# identical text in both dialects (only the placeholders differ).
_LLR_TERM_SQL = (
    "CASE WHEN {k} > 0 THEN CAST(CAST({k} AS DOUBLE)"
    " * ln((CAST({k} AS DOUBLE) * n) / (CAST({r} AS DOUBLE) * {c}))"
    " AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END"
)


@register(
    "corpus_collocations_llr",
    oracle=f"""
WITH wp AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
),
big AS (
  SELECT w AS w1, LEAD(w) OVER win AS w2
  FROM wp
  WINDOW win AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY LEAD(w) OVER win IS NOT NULL
),
bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11
  FROM big GROUP BY w1, w2
),
r1 AS (SELECT w1, CAST(SUM(k11) AS BIGINT) AS c1 FROM bc GROUP BY w1),
r2 AS (SELECT w2, CAST(SUM(k11) AS BIGINT) AS c2 FROM bc GROUP BY w2),
nn AS (SELECT CAST(SUM(k11) AS BIGINT) AS n FROM bc),
cells AS (
  SELECT bc.w1, bc.w2, bc.k11, r1.c1, r2.c2, nn.n,
         bc.k11 AS ka, r1.c1 - bc.k11 AS kb,
         r2.c2 - bc.k11 AS kc, nn.n - r1.c1 - r2.c2 + bc.k11 AS kd
  FROM bc JOIN r1 ON r1.w1 = bc.w1 JOIN r2 ON r2.w2 = bc.w2 CROSS JOIN nn
  WHERE bc.k11 >= {LLR_MIN_SUPPORT}
),
sc AS (
  SELECT w1, w2, k11, c1, c2,
         CAST(2.0 * CAST(
           {_LLR_TERM_SQL.format(k="ka", r="c1", c="c2")}
           + {_LLR_TERM_SQL.format(k="kb", r="c1", c="(n - c2)")}
           + {_LLR_TERM_SQL.format(k="kc", r="(n - c1)", c="c2")}
           + {_LLR_TERM_SQL.format(k="kd", r="(n - c1)", c="(n - c2)")}
         AS DOUBLE) AS DOUBLE) AS llr
  FROM cells
)
SELECT w1, w2, k11, c1, c2, llr
FROM sc
ORDER BY k11 DESC, w1, w2
LIMIT {LLR_TOP}
""",
)
def corpus_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (Dunning 1993) — the
    G² test on each bigram's 2×2 contingency table (first-word ×
    second-word margins over bigram slots): G² = 2·Σ o·ln(o/e). This is
    the collocation statistic that stays calibrated at LOW counts where
    corpus_bigram_pmi's PMI explodes (PMI rewards rarity; LLR asks how
    improbable the joint count is under independence), and it's the
    standard phrase-table / tokenizer-merge ranking criterion.

    Determinism: all four cell counts and both margins are exact
    BIGINTs from one bigram hash agg; each o·ln(o/e) is one ln of a
    fixed-parenthesization ratio of exact integers, quantized to
    DECIMAL(28,6) (the bigram-LM discipline) so the 4-term sum is exact
    decimal addition; output order is integer support with lexical
    tiebreak — no float ordering crosses the engine boundary.

    Scale shape: the bigram explode feeds ONE hash agg (map-side
    partials); both margins are re-aggregations of that count table
    (orders of magnitude under token grain); the scoring join keys on
    words with the 1-row total broadcast. At 100 TB: one scan, Zipf-
    bounded count tables.
    """
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.col("text"), " ")
    n_w = F.size(words)
    mk = lambda i: F.struct(  # noqa: E731
        F.element_at(words, i).alias("w1"),
        F.element_at(words, i + 1).alias("w2"),
    )
    arr = F.when(
        n_w >= 2, F.transform(F.sequence(F.lit(1), n_w - 1), mk)
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = d.select(F.explode(arr).alias("b")).select("b.w1", "b.w2")
    bc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("k11")
    )
    r1 = bc.groupBy("w1").agg(F.sum("k11").cast("bigint").alias("c1"))
    r2 = bc.groupBy("w2").agg(F.sum("k11").cast("bigint").alias("c2"))
    nn = bc.agg(F.sum("k11").cast("bigint").alias("n"))
    cells = (
        bc.filter(F.col("k11") >= LLR_MIN_SUPPORT)
        .join(r1, "w1")
        .join(r2, "w2")
        .crossJoin(F.broadcast(nn))
        .withColumn("ka", F.col("k11"))
        .withColumn("kb", F.col("c1") - F.col("k11"))
        .withColumn("kc", F.col("c2") - F.col("k11"))
        .withColumn(
            "kd", F.col("n") - F.col("c1") - F.col("c2") + F.col("k11")
        )
    )
    llr = F.expr(
        "CAST(2.0 * CAST("
        + _LLR_TERM_SQL.format(k="ka", r="c1", c="c2")
        + " + "
        + _LLR_TERM_SQL.format(k="kb", r="c1", c="(n - c2)")
        + " + "
        + _LLR_TERM_SQL.format(k="kc", r="(n - c1)", c="c2")
        + " + "
        + _LLR_TERM_SQL.format(k="kd", r="(n - c1)", c="(n - c2)")
        + " AS DOUBLE) AS DOUBLE)"
    )
    return (
        cells.select("w1", "w2", "k11", "c1", "c2", llr.alias("llr"))
        .orderBy(F.col("k11").desc(), "w1", "w2")
        .limit(LLR_TOP)
    )


# --- ES function_score (linear decay) + more_like_this ----------------------

# ES linear decay params: value 1.0 within `offset` of `origin`, dropping
# linearly to `decay` at `offset + scale` — i.e. slope span s = scale/(1-decay).
FS_TERM = "spark"
FS_ORIGIN = 300   # n_chars origin
FS_OFFSET = 50
FS_SCALE = 150
FS_DECAY_SPAN = 300.0  # scale / (1 - decay) with decay = 0.5
FS_TOPK = 15


@register(
    "search_function_score_decay",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dl
),
tf AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE w = '{FS_TERM}' GROUP BY doc_id
),
dfq AS (SELECT CAST(COUNT(*) AS BIGINT) AS df FROM tf),
scored AS (
  SELECT t.doc_id, t.tf, d.n_chars,
         ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
            / (CAST(f.df AS DOUBLE) + 0.5))
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))))) AS ts,
         GREATEST(
           ({FS_DECAY_SPAN!r} - GREATEST(
              CAST(ABS(d.n_chars - {FS_ORIGIN}) - {FS_OFFSET} AS DOUBLE),
              0.0)) / {FS_DECAY_SPAN!r},
           0.0) AS decay_f
  FROM tf t
  JOIN dl l USING (doc_id)
  JOIN documents d USING (doc_id)
  CROSS JOIN stats s CROSS JOIN dfq f
)
SELECT doc_id, tf, n_chars, ts, decay_f, ts * decay_f AS fscore, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ts * decay_f DESC, doc_id) AS rk
  FROM scored
) t WHERE rk <= {FS_TOPK}
""",
)
def search_function_score_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch ``function_score`` with a LINEAR decay function:
    BM25 relevance for one term multiplied by a distance decay on a
    numeric field (n_chars; origin {FS_ORIGIN}, offset {FS_OFFSET},
    scale {FS_SCALE}, decay 0.5) — full credit within ``offset`` of the
    origin, linear drop to 0.5 at ``offset + scale``, floor at 0. This
    is the exact shape of ES's
    `{{"function_score": {{"linear": {{"n_chars": ...}}}}}}` query
    (the recency/geo-boost workhorse the reference's ES sink serves),
    with the linear variant chosen over gauss/exp deliberately: its
    arithmetic is rational, so scores hash-match across engines with no
    transcendental-rounding caveat — same reasoning as the rational
    Robertson idf the BM25 family already uses.

    Scale shape: one postings pass for tf (predicate-pruned to the
    query term), doc-length and corpus stats from the shared token scan,
    single-row stats broadcast; the decay multiply is per-matching-doc
    scalar math and the top-k is one global window over matches only.
    """
    d = load_table(spark, sf_dir, "documents")
    # tf/dl/stats from the shared postings + dl/stats memos (r13
    # optimization round: this query re-tokenized the corpus and
    # checkpointed private dl/tf tables per execution; the memo reads
    # are integer-identical and warm).
    dl, stats = _dl_stats_memo(spark, sf_dir)
    tf = (
        _postings_memo(spark, sf_dir)
        .filter(F.col("w") == FS_TERM)
        .select("doc_id", F.col("tf").cast("bigint").alias("tf"))
    )
    dfq = tf.agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    tfn = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
    )
    decay_f = F.greatest(
        (
            F.lit(FS_DECAY_SPAN)
            - F.greatest(
                (
                    F.abs(F.col("n_chars") - F.lit(FS_ORIGIN))
                    - F.lit(FS_OFFSET)
                ).cast("double"),
                F.lit(0.0),
            )
        )
        / F.lit(FS_DECAY_SPAN),
        F.lit(0.0),
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(d.select("doc_id", "n_chars"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfq))
        .select(
            "doc_id", "tf", "n_chars",
            (idf * tfn).alias("ts"),
            decay_f.alias("decay_f"),
        )
    )
    return (
        ranked_topk(scored, [(F.col("ts") * F.col("decay_f")).desc(), "doc_id"], FS_TOPK, rk_cast="bigint")
        .select(
            "doc_id", "tf", "n_chars", "ts", "decay_f",
            (F.col("ts") * F.col("decay_f")).alias("fscore"),
            "rk",
        )
    )


# ES more_like_this defaults (scaled to the fixture corpus): select up to
# max_query_terms seed terms with tf >= min_term_freq and df >= min_doc_freq,
# ranked by seed tf x idf, then run them as a bool-OR BM25 query.
MLT_MAX_QUERY_TERMS = 10
MLT_MIN_TERM_FREQ = 2
MLT_MIN_DOC_FREQ = 2
MLT_TOPK = 15


@register(
    "search_more_like_this",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dl
),
tf_all AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, w
),
df_all AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf_all GROUP BY w
),
seed AS (SELECT MIN(doc_id) AS seed_id FROM documents),
qterms AS (
  SELECT w, idf FROM (
    SELECT t.w,
           ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
              / (CAST(f.df AS DOUBLE) + 0.5)) AS idf,
           ROW_NUMBER() OVER (
             ORDER BY CAST(t.tf AS DOUBLE)
                      * ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
                         / (CAST(f.df AS DOUBLE) + 0.5)) DESC,
                      t.w) AS qrk
    FROM tf_all t
    JOIN seed ON t.doc_id = seed.seed_id
    JOIN df_all f USING (w)
    CROSS JOIN stats s
    WHERE t.tf >= {MLT_MIN_TERM_FREQ} AND f.df >= {MLT_MIN_DOC_FREQ}
  ) r WHERE qrk <= {MLT_MAX_QUERY_TERMS}
),
term_scores AS (
  SELECT t.doc_id,
         q.idf
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))))) AS ts
  FROM tf_all t
  JOIN qterms q USING (w)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s CROSS JOIN seed
  WHERE t.doc_id <> seed.seed_id
),
agg AS (
  SELECT doc_id,
         CAST(SUM(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) AS mlt_score,
         CAST(COUNT(*) AS BIGINT) AS n_matched
  FROM term_scores GROUP BY doc_id
)
SELECT doc_id, mlt_score, n_matched, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY mlt_score DESC, doc_id) AS rk
  FROM agg
) t WHERE rk <= {MLT_TOPK}
""",
)
def search_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch ``more_like_this``: given a seed document (the
    smallest doc_id — deterministic at every sf), select its most
    interesting terms (tf >= {MLT_MIN_TERM_FREQ} in the seed,
    df >= {MLT_MIN_DOC_FREQ} in the corpus, top {MLT_MAX_QUERY_TERMS}
    by seed-tf x idf — ES's term-interestingness ranking), then run
    them as a bool-OR BM25 query over the rest of the corpus. This is
    the query-by-example retrieval shape of ES's MLT API — the lexical
    twin of embedding near-dup search, and the last of the reference-
    sink query surfaces (bool / prefix / wildcard / function_score /
    MLT) expressed as a checked operator.

    Deterministic: term selection ranks exact-integer tf against the
    rational Robertson idf with the term string as tie-break; doc
    scores sum per-term doubles through DECIMAL(28,6) exactly as the
    BM25 family does.

    Scale shape: term selection is ONE row's postings joined to the
    term-df table (seed side is a single-row broadcast, not a collect);
    the query itself is a {MLT_MAX_QUERY_TERMS}-row broadcast against
    the postings — identical cost to any other bounded multi-term BM25.
    """
    d = load_table(spark, sf_dir, "documents")
    # The postings table (doc, term, tf) is the one corpus-pass artifact;
    # every downstream relation (doc lengths, term dfs, seed terms, the
    # scoring join) derives from it — the shared retrieval-family memo,
    # exactly the postings materialization an index build does at 100 TB.
    tf_all = _postings_memo(spark, sf_dir)
    dl, stats = _dl_stats_memo(spark, sf_dir)
    df_all = tf_all.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    seed = d.agg(F.min("doc_id").alias("seed_id"))
    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    qterms = ranked_topk(
        tf_all.join(
            F.broadcast(seed), F.col("doc_id") == F.col("seed_id")
        )
        .join(df_all, "w")
        .crossJoin(F.broadcast(stats))
        .filter(
            (F.col("tf") >= MLT_MIN_TERM_FREQ)
            & (F.col("df") >= MLT_MIN_DOC_FREQ)
        )
        .select("w", "tf", idf.alias("idf")),
        [(F.col("tf").cast("double") * F.col("idf")).desc(), F.col("w")],
        MLT_MAX_QUERY_TERMS,
    ).select("w", "idf")
    tfn = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B)
            * (F.col("dl").cast("double") / (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")))
        )
    )
    agg = (
        tf_all.join(F.broadcast(qterms), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(seed))
        .filter(F.col("doc_id") != F.col("seed_id"))
        .select("doc_id", (F.col("idf") * tfn).alias("ts"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("ts").cast("decimal(28,6)"))
            .cast("double")
            .alias("mlt_score"),
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        )
    )
    return (
        ranked_topk(agg, [F.col("mlt_score").desc(), "doc_id"], MLT_TOPK, rk_cast="bigint")
        .select("doc_id", "mlt_score", "n_matched", "rk")
    )


# --- ES fuzzy~1 term query (Lucene FuzzyQuery model) -------------------------

# A deliberate TYPO: "sart" is not in the fixture vocabulary, but "sort"
# and "part" are both one edit away — the typo-tolerance use case fuzzy
# exists for. Classic Levenshtein (no transpositions): both engines ship
# the same Wagner-Fischer distance built-in; Lucene's default adds
# transpositions (fuzzy_transpositions=true), which neither ships — the
# model here is ES `"fuzziness": 1, "fuzzy_transpositions": false`.
FUZZY_SEED = "sart"
FUZZY_MAX_EDITS = 1
FUZZY_TOPK = 15


@register(
    "search_fuzzy_term",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf_all AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, w
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf_all GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dl
),
dict AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf_all GROUP BY w),
exp AS (
  SELECT w, df,
         1.0 - CAST(levenshtein(w, '{FUZZY_SEED}') AS DOUBLE)
               / LEAST(length(w), {len(FUZZY_SEED)}) AS boost
  FROM dict WHERE levenshtein(w, '{FUZZY_SEED}') <= {FUZZY_MAX_EDITS}
),
blend AS (SELECT CAST(MAX(df) AS BIGINT) AS bdf FROM exp),
term_scores AS (
  SELECT t.doc_id,
         e.boost
         * ((CAST(s.n_docs - b.bdf AS DOUBLE) + 0.5)
            / (CAST(b.bdf AS DOUBLE) + 0.5))
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))))) AS ts
  FROM tf_all t
  JOIN exp e USING (w)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s CROSS JOIN blend b
),
agg AS (
  SELECT doc_id,
         CAST(SUM(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) AS fz_score,
         CAST(COUNT(*) AS BIGINT) AS n_matched_terms
  FROM term_scores GROUP BY doc_id
)
SELECT doc_id, fz_score, n_matched_terms, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY fz_score DESC, doc_id) AS rk
  FROM agg
) t WHERE rk <= {FUZZY_TOPK}
""",
)
def search_fuzzy_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``fuzzy`` query (Lucene FuzzyQuery model): expand the query
    term against the TERM DICTIONARY to every indexed term within
    Levenshtein distance {FUZZY_MAX_EDITS} ("{FUZZY_SEED}" → "sort",
    "part" in the fixture vocabulary), then run the expansion as
    Lucene's ``top_terms_blended_freqs`` rewrite: every expanded term
    scores as a term query whose document frequency is OVERRIDDEN by
    the max df across the expansion set (so a rare typo variant can't
    out-rank the common intended term on idf alone), weighted by the
    Lucene fuzzy boost 1 − d/min(|term|, |query|). This is the last ES
    query-DSL shape next to bool/prefix/wildcard/function_score/MLT/
    percolate (VERDICT r10 next-#8a), and the query-time complement to
    search_term_suggester (which corrects the typo; this one searches
    through it).

    Deterministic: Levenshtein is exact integer Wagner-Fischer in both
    engines; the boost is one IEEE division; scoring reuses the BM25
    family's rational raw-odds idf + tf normalization verbatim, and the
    per-doc sum goes through DECIMAL(28,6).

    Scale shape: the expansion scan is over the TERM DICTIONARY (|vocab|
    rows — Heaps-law sublinear in corpus size), never the corpus; Lucene
    walks an FST intersected with a Levenshtein automaton, this walks
    the df table with a distance predicate — same asymptotics at the
    dictionary grain. The expansion set (≤ a few terms) broadcasts to
    the postings join; everything downstream is the bounded multi-term
    BM25 shape.
    """
    # dl/stats/dictionary/scoring all derive from the shared postings
    # memo (the MLT diamond-DAG doctrine; the un-checkpointed build
    # audited at 5 parquet scans).
    tf_all = _postings_memo(spark, sf_dir)
    dl, stats = _dl_stats_memo(spark, sf_dir)
    dict_df = tf_all.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    lev = F.levenshtein(F.col("w"), F.lit(FUZZY_SEED))
    exp = dict_df.filter(lev <= FUZZY_MAX_EDITS).select(
        "w",
        "df",
        (
            F.lit(1.0)
            - lev.cast("double")
            / F.least(F.length("w"), F.lit(len(FUZZY_SEED)))
        ).alias("boost"),
    )
    blend = exp.agg(F.max("df").alias("bdf"))
    idf = (
        (F.col("n_docs") - F.col("bdf")).cast("double") + F.lit(0.5)
    ) / (F.col("bdf").cast("double") + F.lit(0.5))
    tfn = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B)
            * (
                F.col("dl").cast("double")
                / (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double"))
            )
        )
    )
    agg = (
        tf_all.join(F.broadcast(exp), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(blend))
        .select("doc_id", (F.col("boost") * idf * tfn).alias("ts"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("ts").cast("decimal(28,6)"))
            .cast("double")
            .alias("fz_score"),
            F.count(F.lit(1)).cast("bigint").alias("n_matched_terms"),
        )
    )
    return (
        ranked_topk(agg, [F.col("fz_score").desc(), "doc_id"], FUZZY_TOPK, rk_cast="bigint")
        .select("doc_id", "fz_score", "n_matched_terms", "rk")
    )


# --- ES significant_terms (JLH), rank_feature, dis_max -----------------------

SIG_FG_SOURCE = "src7"  # foreground doc set = one source
SIG_MIN_DOC_COUNT = 3  # ES significant_terms min_doc_count
SIG_TOPN = 10


@register(
    "search_significant_terms",
    oracle=f"""
WITH postings AS (
  SELECT DISTINCT doc_id, source, w FROM (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
    FROM documents
  ) t
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS bg_total,
         CAST(COUNT(*) FILTER (WHERE source = '{SIG_FG_SOURCE}') AS BIGINT)
           AS fg_total
  FROM documents
),
counts AS (
  SELECT w,
         CAST(COUNT(*) AS BIGINT) AS bg_df,
         CAST(COUNT(*) FILTER (WHERE source = '{SIG_FG_SOURCE}') AS BIGINT)
           AS fg_df
  FROM postings GROUP BY w
),
scored AS (
  SELECT c.w AS term, c.fg_df, c.bg_df,
         (CAST(c.fg_df AS DOUBLE) / t.fg_total) AS fg_pct,
         (CAST(c.bg_df AS DOUBLE) / t.bg_total) AS bg_pct
  FROM counts c CROSS JOIN totals t
  WHERE c.fg_df >= {SIG_MIN_DOC_COUNT}
    AND (CAST(c.fg_df AS DOUBLE) / t.fg_total)
        > (CAST(c.bg_df AS DOUBLE) / t.bg_total)
)
SELECT term, fg_df, bg_df, jlh, rk FROM (
  SELECT term, fg_df, bg_df,
         (fg_pct - bg_pct) * (fg_pct / bg_pct) AS jlh,
         ROW_NUMBER() OVER (
           ORDER BY (fg_pct - bg_pct) * (fg_pct / bg_pct) DESC, term) AS rk
  FROM scored
) t WHERE rk <= {SIG_TOPN}
""",
)
def search_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``significant_terms`` aggregation with the default JLH score:
    terms over-represented in a FOREGROUND doc set (source =
    {SIG_FG_SOURCE!r}) relative to the whole index background —
    jlh = (fg% − bg%) · (fg%/bg%), the product of the absolute and
    relative lift, with ES's min_doc_count gate and the
    positive-significance filter (fg% > bg%). The "what is this segment
    about" aggregation next to plain terms-agg counting
    (search_terms_agg_shard_error) and the retrieval-side complement of
    the corpus G² collocations (that one scores term-pair association;
    this one scores term-segment association).

    Deterministic: document frequencies are exact integers from a
    DISTINCT (doc, term) pass; the two percentages and their product
    are IEEE double ops in identical evaluation order in both engines.

    Scale shape: one distinct-postings pass (token grain, the same
    shuffle class as every postings build), then term-grain counts
    joined to a one-row broadcast of the two totals; output is a
    dictionary-grain top-N (Heaps-sublinear in corpus size). At 100 TB
    the counts table IS the persisted term-stats index; a foreground
    query touches term stats, never documents.
    """
    d = load_table(spark, sf_dir, "documents")
    postings = (
        d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    totals = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("bg_total"),
        F.sum((F.col("source") == SIG_FG_SOURCE).cast("bigint"))
        .cast("bigint")
        .alias("fg_total"),
    )
    counts = postings.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("bg_df"),
        F.sum((F.col("source") == SIG_FG_SOURCE).cast("bigint"))
        .cast("bigint")
        .alias("fg_df"),
    )
    fg_pct = F.col("fg_df").cast("double") / F.col("fg_total")
    bg_pct = F.col("bg_df").cast("double") / F.col("bg_total")
    jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    scored = (
        counts.crossJoin(F.broadcast(totals))
        .filter(
            (F.col("fg_df") >= SIG_MIN_DOC_COUNT) & (fg_pct > bg_pct)
        )
        .select(
            F.col("w").alias("term"), "fg_df", "bg_df", jlh.alias("jlh")
        )
    )
    return (
        ranked_topk(scored, [F.col("jlh").desc(), "term"], SIG_TOPN, rk_cast="bigint")
        .select("term", "fg_df", "bg_df", "jlh", "rk")
    )


RF_TERM = "spark"
RF_PIVOT = 500  # explicit saturation pivot (ES rank_feature saturation)
RF_BOOST = 2.0
RF_TOPK = 10


def _sql_bm25_one_term(term: str) -> str:
    """BM25 CTE chain for a single query term — `one(doc_id, bm25)`."""
    return f"""tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dl
),
tf_{term} AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE w = '{term}' GROUP BY doc_id
),
df_{term} AS (SELECT CAST(COUNT(*) AS BIGINT) AS df FROM tf_{term}),
bm25_{term} AS (
  -- the Spark twin (_bm25_agg) sums per-term scores through
  -- DECIMAL(28,6); with one term the sum is a single quantization —
  -- mirror it so doubles agree bit-for-bit.
  SELECT t.doc_id,
         CAST(CAST(((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
            / (CAST(f.df AS DOUBLE) + 0.5))
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE))))))
              AS DECIMAL(28,6)) AS DOUBLE) AS bm25
  FROM tf_{term} t JOIN dl l USING (doc_id)
  CROSS JOIN stats s CROSS JOIN df_{term} f
)"""


@register(
    "search_rank_feature",
    oracle=f"""
WITH {_sql_bm25_one_term(RF_TERM)}
SELECT doc_id, bm25, rf_score, score, rk FROM (
  SELECT b.doc_id, b.bm25,
         {RF_BOOST!r} * (CAST(d.n_chars AS DOUBLE)
                         / (CAST(d.n_chars AS DOUBLE) + {RF_PIVOT}))
           AS rf_score,
         b.bm25 + {RF_BOOST!r} * (CAST(d.n_chars AS DOUBLE)
                                  / (CAST(d.n_chars AS DOUBLE) + {RF_PIVOT}))
           AS score,
         ROW_NUMBER() OVER (
           ORDER BY b.bm25 + {RF_BOOST!r}
                    * (CAST(d.n_chars AS DOUBLE)
                       / (CAST(d.n_chars AS DOUBLE) + {RF_PIVOT})) DESC,
                    b.doc_id) AS rk
  FROM bm25_{RF_TERM} b JOIN documents d USING (doc_id)
) t WHERE rk <= {RF_TOPK}
""",
)
def search_rank_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rank_feature`` query in a bool: score = BM25 of a term query
    + boost · saturation(feature) with saturation f/(f + pivot) — the
    static-signal re-ranking shape (popularity, pagerank, length prior)
    every production relevance stack bolts onto lexical scores.
    `n_chars` stands in for the indexed rank feature; the pivot is the
    explicit-pivot form of ES's saturation function.

    Deterministic: the term score reuses the BM25 family's rational
    raw-odds formula verbatim; saturation is two IEEE ops on an exact
    integer feature; the sum is one double add, same order both engines.

    Scale shape: the term's postings (pruned at the token filter) join
    doc length + the one-row stats broadcast; the feature rides the
    documents scan — no extra pass. Top-k compiles to
    TakeOrderedAndProject.
    """
    bm = _bm25_agg(spark, sf_dir, (RF_TERM,)).select(
        "doc_id", F.col("bm25")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    rf = F.lit(RF_BOOST) * (
        F.col("n_chars").cast("double")
        / (F.col("n_chars").cast("double") + F.lit(RF_PIVOT))
    )
    scored = bm.join(d, "doc_id").select(
        "doc_id",
        "bm25",
        rf.alias("rf_score"),
        (F.col("bm25") + rf).alias("score"),
    )
    return (
        ranked_topk(scored, [F.col("score").desc(), "doc_id"], RF_TOPK, rk_cast="bigint")
        .select("doc_id", "bm25", "rf_score", "score", "rk")
    )


DM_TERM_A = "spark"
DM_TERM_B = "join"
DM_TIE_NUM, DM_TIE_DEN = 3, 10  # tie_breaker = 0.3
DM_TOPK = 10


@register(
    "search_dis_max",
    oracle=f"""
WITH {_sql_bm25_one_term(DM_TERM_A)},
tf_{DM_TERM_B} AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE w = '{DM_TERM_B}' GROUP BY doc_id
),
df_{DM_TERM_B} AS (SELECT CAST(COUNT(*) AS BIGINT) AS df FROM tf_{DM_TERM_B}),
bm25_{DM_TERM_B} AS (
  SELECT t.doc_id,
         CAST(CAST(((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
            / (CAST(f.df AS DOUBLE) + 0.5))
         * ((CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
            / (CAST(t.tf AS DOUBLE)
               + CAST({BM25_K1!r} AS DOUBLE)
                 * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                    + CAST({BM25_B!r} AS DOUBLE)
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.sum_dl AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE))))))
              AS DECIMAL(28,6)) AS DOUBLE) AS bm25
  FROM tf_{DM_TERM_B} t JOIN dl l USING (doc_id)
  CROSS JOIN stats s CROSS JOIN df_{DM_TERM_B} f
),
joined AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.bm25, 0.0) AS sa,
         COALESCE(b.bm25, 0.0) AS sb
  FROM bm25_{DM_TERM_A} a FULL OUTER JOIN bm25_{DM_TERM_B} b USING (doc_id)
)
SELECT doc_id, score_a, score_b, score, rk FROM (
  SELECT doc_id, sa AS score_a, sb AS score_b,
         GREATEST(sa, sb)
         + CAST({DM_TIE_NUM} AS DOUBLE) / {DM_TIE_DEN}
           * (sa + sb - GREATEST(sa, sb)) AS score,
         ROW_NUMBER() OVER (
           ORDER BY GREATEST(sa, sb)
                    + CAST({DM_TIE_NUM} AS DOUBLE) / {DM_TIE_DEN}
                      * (sa + sb - GREATEST(sa, sb)) DESC, doc_id) AS rk
  FROM joined
) t WHERE rk <= {DM_TOPK}
""",
)
def search_dis_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``dis_max`` query: score = max over the sub-query scores +
    tie_breaker · (sum of the others) — Lucene's DisjunctionMaxQuery,
    the best-field scorer multi-field search is built on (vs bool
    should's sum-of-fields). Two term sub-queries here
    ({DM_TERM_A!r}, {DM_TERM_B!r}); a doc matching either is scored,
    the better match dominates, and tie_breaker {DM_TIE_NUM}/{DM_TIE_DEN}
    credits the weaker one.

    Deterministic: both sub-scores are the BM25 family's rational form;
    max + one multiply-add in identical order; missing sub-matches are
    exact 0.0 via COALESCE on a full outer join.

    Scale shape: two postings-pruned per-term score tables full-outer
    joined on doc_id — cost tracks the two terms' postings, never the
    corpus; identical shuffle class as any bounded multi-term query.
    """
    a = _bm25_agg(spark, sf_dir, (DM_TERM_A,)).select(
        "doc_id", F.col("bm25").alias("sa")
    )
    b = _bm25_agg(spark, sf_dir, (DM_TERM_B,)).select(
        "doc_id", F.col("bm25").alias("sb")
    )
    joined = (
        a.join(b, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("sa", F.lit(0.0)).alias("sa"),
            F.coalesce("sb", F.lit(0.0)).alias("sb"),
        )
    )
    mx = F.greatest("sa", "sb")
    score = mx + (F.lit(DM_TIE_NUM).cast("double") / F.lit(DM_TIE_DEN)) * (
        F.col("sa") + F.col("sb") - mx
    )
    return (
        joined.select(
            "doc_id",
            F.col("sa").alias("score_a"),
            F.col("sb").alias("score_b"),
            score.alias("score"),
        )
        .transform(
            lambda sc: ranked_topk(
                sc,
                [F.col("score").desc(), "doc_id"],
                DM_TOPK,
                rk_cast="bigint",
            )
        )
    )


# --- ES match_phrase_prefix --------------------------------------------------

MPP_FIRST = "batch"  # fixed first phrase term
MPP_PREFIX = "sc"  # last-position prefix ("batch sc*" — type-ahead shape)
MPP_MAX_EXPANSIONS = 50  # ES default max_expansions


@register(
    "search_match_phrase_prefix",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, w, i FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents
  ) t
),
exp AS (
  SELECT w AS term FROM (
    SELECT DISTINCT w FROM pos WHERE w LIKE '{MPP_PREFIX}%'
  ) t ORDER BY w LIMIT {MPP_MAX_EXPANSIONS}
),
hits AS (
  SELECT b.w AS matched_term, a.doc_id
  FROM pos a
  JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN exp e ON b.w = e.term
  WHERE a.w = '{MPP_FIRST}'
)
SELECT matched_term,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM hits GROUP BY matched_term
""",
)
def search_match_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``match_phrase_prefix`` ("{MPP_FIRST} {MPP_PREFIX}*"): the
    type-ahead query — an exact positional phrase whose LAST position
    matches any of up to max_expansions={MPP_MAX_EXPANSIONS}
    alphabetically-first dictionary terms with the given prefix
    (Lucene's MultiPhraseQuery rewrite). Completes the positional
    family next to the exact phrase (search_phrase_positional) and the
    dictionary-expansion family next to prefix/wildcard/fuzzy: this one
    composes BOTH — a positional adjacency join whose last term set
    comes from a dictionary expansion.

    Deterministic: all-integer positional joins (each engine uses its
    own consistent token numbering, only RELATIVE offsets cross the
    join) + exact string prefix match + alphabetic expansion cutoff.

    Scale shape: the first term's postings and the expansion terms'
    postings are each pruned BEFORE the (doc, position) equi-join —
    join input is the phrase terms' postings mass, never the corpus;
    the expansion scan runs on the term dictionary (Heaps-sublinear).
    At 100 TB the (w, doc_id, i) table is the persisted positional
    index, partitioned by term.
    """
    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    )
    exp = (
        pos.filter(F.col("w").startswith(MPP_PREFIX))
        .select("w")
        .distinct()
        .orderBy("w")
        .limit(MPP_MAX_EXPANSIONS)
        .select(F.col("w").alias("term"))
    )
    first = pos.filter(F.col("w") == MPP_FIRST).select(
        "doc_id", F.col("i").alias("i0")
    )
    nxt = pos.select(
        F.col("doc_id").alias("d1"),
        F.col("i").alias("i1"),
        F.col("w").alias("matched_term"),
    ).join(F.broadcast(exp), F.col("matched_term") == F.col("term"))
    hits = first.join(
        nxt,
        (F.col("d1") == F.col("doc_id")) & (F.col("i1") == F.col("i0") + 1),
    )
    return hits.groupBy("matched_term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
    )


# --- ES field collapsing -----------------------------------------------------

COLLAPSE_TOPK = 8
COLLAPSE_INNER = 2  # inner_hits per collapsed group


@register(
    "search_collapse_field",
    oracle=f"""
WITH {_sql_bm25_one_term(RF_TERM)},
scored AS (
  SELECT b.doc_id, b.bm25, d.source
  FROM bm25_{RF_TERM} b JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT doc_id, bm25, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY bm25 DESC, doc_id) AS grp_rk,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_in_group
  FROM scored
),
collapsed AS (
  SELECT doc_id, bm25, source, n_in_group,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
  FROM ranked WHERE grp_rk = 1
),
inner_hits AS (
  SELECT source,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY grp_rk)
           AS inner_doc_ids
  FROM ranked WHERE grp_rk <= {COLLAPSE_INNER}
  GROUP BY source
)
SELECT c.rk, c.doc_id, c.source, c.bm25, c.n_in_group, i.inner_doc_ids
FROM collapsed c JOIN inner_hits i USING (source)
WHERE c.rk <= {COLLAPSE_TOPK}
""",
)
def search_collapse_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES FIELD COLLAPSING (`collapse` + `inner_hits`): rank the
    {RF_TERM!r} term query, keep only each source's BEST document in
    the result list (query-time dedup by field — the search-results
    counterpart of the dedup keep-best operator), report the group size,
    and carry the top-{COLLAPSE_INNER} `inner_hits` per collapsed group
    as a deterministic id list. The result diversification primitive
    every search UI uses (one hit per domain/site), and the last common
    ES result-shaping feature next to dis_max/function_score/
    rank_feature.

    Deterministic: BM25 through the family's DECIMAL(28,6) path; both
    window orders carry doc_id tiebreaks; inner_hits ids are
    grp_rk-ordered exact strings.

    Scale shape: one postings-pruned score pass, one window keyed by the
    collapse field (group grain), one global top-k over |groups| rows —
    collapse pushes the per-group work into the field-keyed shuffle,
    never a second corpus pass. At 100 TB this is the per-shard
    collapse + coordinator merge ES itself runs.
    """
    bm = _bm25_agg(spark, sf_dir, (RF_TERM,)).select("doc_id", "bm25")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = bm.join(d, "doc_id")
    ranked = ranked_topk_per(
        scored.withColumn(
            "n_in_group",
            F.count(F.lit(1)).over(Window.partitionBy("source")).cast("bigint"),
        ),
        ["source"], [F.col("bm25").desc(), "doc_id"], COLLAPSE_INNER,
        rk_col="grp_rk",
    )
    inner = (
        ranked.groupBy("source")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("grp_rk", F.col("doc_id"))
                        )
                    ),
                    lambda s: s.doc_id.cast("string"),
                ),
            ).alias("inner_doc_ids")
        )
    )
    collapsed = ranked_topk(
        ranked.filter(F.col("grp_rk") == 1),
        [F.col("bm25").desc(), "doc_id"],
        COLLAPSE_TOPK,
        rk_cast="bigint",
    )
    return collapsed.join(inner, "source").select(
        "rk", "doc_id", "source", "bm25", "n_in_group", "inner_doc_ids"
    )


# --- ES highlighting offsets + composite-agg pagination ----------------------

HL_TERMS = ("spark", "join")  # highlight query terms
HL_TOPK = 5  # highlight only the top-k ranked docs (ES: hits on the page)

_HL_TERMS_SQL = ", ".join(f"'{t}'" for t in HL_TERMS)


@register(
    "search_highlight_offsets",
    oracle=f"""
WITH {_SQL_BM25_CTE},
top AS (
  SELECT doc_id, bm25 FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk FROM agg
  ) t WHERE rk <= {HL_TOPK}
),
pos AS (
  SELECT doc_id, w, i FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents
  ) t WHERE w IN ({_HL_TERMS_SQL})
)
SELECT t.doc_id, p.w AS term,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(p.i) - 1 AS BIGINT) AS first_pos,
       string_agg(CAST(p.i - 1 AS VARCHAR), ',' ORDER BY p.i) AS positions
FROM top t JOIN pos p USING (doc_id)
GROUP BY t.doc_id, p.w
""",
)
def search_highlight_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES HIGHLIGHTING, the index side: for the page's top-{HL_TOPK}
    BM25 hits, every matched query-term occurrence with its token
    positions (0-based) — exactly what the unified highlighter reads
    from a term-vector/offsets-enabled field before painting <em> tags.
    Positions come from the positional index restricted to (top docs ×
    query terms); the snippet-painting is presentation, the offsets are
    the data-engine part.

    Deterministic: integer positions (both engines' 1-based/0-based
    numbering reconciled by an explicit −1 on the SQL side), exact
    string aggregation in position order.

    Scale shape: the positional scan prunes to the query terms BEFORE
    any shuffle, then semi-joins the {HL_TOPK}-row top-docs broadcast —
    highlight cost tracks the page's hits × their term occurrences,
    never the corpus.
    """
    bm = _bm25_agg(spark, sf_dir, BM25_TERMS)
    top = (
        ranked_topk(bm, [F.col("bm25").desc(), "doc_id"], HL_TOPK)
        .select("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    ).filter(F.col("w").isin(*HL_TERMS))
    return (
        pos.join(F.broadcast(top), "doc_id")
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("i").cast("bigint").alias("first_pos"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("i")),
                    lambda x: x.cast("string"),
                ),
            ).alias("positions"),
        )
    )


COMP_PAGE_SIZE = 8  # ES composite agg page size
COMP_PAGE = 2  # return the SECOND page (exercises the after-key cursor)


@register(
    "search_composite_agg",
    oracle=f"""
WITH buckets AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS doc_count,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         ROW_NUMBER() OVER (ORDER BY source, lang) AS pos
  FROM documents GROUP BY source, lang
)
SELECT source, lang, doc_count, sum_chars,
       CAST(pos AS BIGINT) AS bucket_pos
FROM buckets
WHERE pos > {(COMP_PAGE - 1) * COMP_PAGE_SIZE}
  AND pos <= {COMP_PAGE * COMP_PAGE_SIZE}
""",
)
def search_composite_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES COMPOSITE aggregation: multi-source buckets (source × lang)
    in strict after-key order, paginated — page {COMP_PAGE} of size
    {COMP_PAGE_SIZE} here, i.e. the request a client makes with the
    `after` cursor set to page 1's last key. Composite is ES's ONLY
    agg that streams unbounded bucket spaces (terms agg caps at size);
    its engine meaning: bucket enumeration must be a total order on the
    key tuple so any page is a contiguous, reproducible slice.

    Deterministic: integer counts/sums, total (source, lang) order.

    Scale shape: one groupBy at bucket grain, one global order over
    |buckets| rows (dictionary-small), then a contiguous slice — the
    coordinator-side pagination ES runs; at 100 TB the bucket table is
    tiny next to the fact scan that built it.
    """
    d = load_table(spark, sf_dir, "documents")
    buckets = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_count"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    return ranked_topk(
        buckets, ["source", "lang"], COMP_PAGE * COMP_PAGE_SIZE,
        rk_col="bucket_pos", rk_cast="bigint",
    ).filter(F.col("bucket_pos") > (COMP_PAGE - 1) * COMP_PAGE_SIZE)


# --- ES aggregation-DSL fidelity: terms agg error bounds, percolate,
# --- term suggester ----------------------------------------------------------

TA_SHARDS = 4      # deterministic pseudo-shards (md5 of doc_id)
TA_SHARD_SIZE = 5  # per-shard top terms reported to the coordinator
TA_SIZE = 5        # final top-N the "coordinator" returns


@register(
    "search_terms_agg_shard_error",
    oracle=f"""
WITH sharded AS (
  SELECT doc_id, source,
         {H.sql_token_code("CAST(doc_id AS VARCHAR)")} % {TA_SHARDS} AS shard
  FROM documents
),
per_shard AS (
  SELECT shard, source, CAST(COUNT(*) AS BIGINT) AS c
  FROM sharded GROUP BY shard, source
),
reported AS (
  SELECT shard, source, c,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY c DESC, source) AS rk
  FROM per_shard
),
top_reported AS (SELECT * FROM reported WHERE rk <= {TA_SHARD_SIZE}),
shard_floor AS (
  SELECT shard, MIN(c) AS floor_c,
         CAST(COUNT(*) AS BIGINT) AS n_reported
  FROM top_reported GROUP BY shard
),
cand AS (SELECT DISTINCT source FROM top_reported),
shards AS (SELECT DISTINCT shard FROM sharded),
merged AS (
  SELECT cd.source,
         CAST(SUM(COALESCE(tr.c, 0)) AS BIGINT) AS doc_count,
         CAST(SUM(CASE WHEN tr.source IS NULL
                        AND sf.n_reported >= {TA_SHARD_SIZE}
                       THEN sf.floor_c ELSE 0 END) AS BIGINT)
           AS doc_count_error_upper_bound
  FROM cand cd
  CROSS JOIN shards s
  LEFT JOIN top_reported tr
    ON tr.shard = s.shard AND tr.source = cd.source
  LEFT JOIN shard_floor sf ON sf.shard = s.shard
  GROUP BY cd.source
),
truth AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM documents GROUP BY source
)
SELECT m.source, m.doc_count, m.doc_count_error_upper_bound,
       t.true_count,
       t.true_count - m.doc_count <= m.doc_count_error_upper_bound
         AS bound_holds,
       rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY doc_count DESC, source) AS rk
  FROM merged
) m JOIN truth t USING (source)
WHERE m.rk <= {TA_SIZE}
""",
)
def search_terms_agg_shard_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Elasticsearch ``terms`` aggregation with SHARD-LEVEL error
    accounting: documents hash into {TA_SHARDS} deterministic pseudo-
    shards, each shard reports only its local top-{TA_SHARD_SIZE} terms
    (by count), and the coordinator merges the reported counts — so a
    term missed by some shard under-counts, and ES's published
    ``doc_count_error_upper_bound`` (the sum of the LAST reported count
    of every full shard that did NOT report the term) bounds how much.
    The output asserts the bound against the true count per term
    (``bound_holds``). This is the distributed-top-k error model behind
    every terms agg the reference's ES sink serves — and exactly the
    partial-top-k-then-merge shape a 100 TB GROUP BY ... LIMIT pushes
    to executors, with the error bound telling you when shard_size must
    grow.

    Deterministic: shards come from the shared md5 family; all counts
    are integers; every rank order carries the term as tie-break.

    Scale shape: one count aggregation at (shard, term) grain (map-side
    combinable), per-shard top-k windows over shard-local rows, then
    coordinator-side merge on the tiny candidate x shard lattice.
    """
    d = load_table(spark, sf_dir, "documents")
    sharded = d.select(
        "doc_id",
        "source",
        (
            H.token_code(F.col("doc_id").cast("string")) % TA_SHARDS
        ).alias("shard"),
    )
    per_shard = sharded.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    top_reported = ranked_topk_per(
        per_shard, ["shard"], [F.col("c").desc(), "source"], TA_SHARD_SIZE
    ).localCheckpoint()  # candidates/floors/merge all re-read it
    shard_floor = top_reported.groupBy("shard").agg(
        F.min("c").alias("floor_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_reported"),
    )
    cand = top_reported.select("source").distinct()
    shards = sharded.select("shard").distinct()
    merged = (
        cand.crossJoin(F.broadcast(shards))
        .join(
            top_reported.select("shard", "source", "c").withColumnRenamed(
                "c", "rep_c"
            ),
            ["shard", "source"],
            "left",
        )
        .join(F.broadcast(shard_floor), "shard", "left")
        .groupBy("source")
        .agg(
            F.sum(F.coalesce(F.col("rep_c"), F.lit(0)))
            .cast("bigint")
            .alias("doc_count"),
            F.sum(
                F.when(
                    F.col("rep_c").isNull()
                    & (F.col("n_reported") >= TA_SHARD_SIZE),
                    F.col("floor_c"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("doc_count_error_upper_bound"),
        )
    )
    truth = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    return (
        ranked_topk(merged, [F.col("doc_count").desc(), "source"], TA_SIZE, rk_cast="bigint")
        .join(truth, "source")
        .select(
            "source",
            "doc_count",
            "doc_count_error_upper_bound",
            "true_count",
            (
                F.col("true_count") - F.col("doc_count")
                <= F.col("doc_count_error_upper_bound")
            ).alias("bound_holds"),
            "rk",
        )
    )


@register(
    "search_date_histogram_pipeline",
    oracle="""
WITH counts AS (
  SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM counts),
spine AS (
  SELECT unnest(generate_series(b.mn, b.mx, INTERVAL 1 DAY)) AS day
  FROM bounds b
),
filled AS (
  SELECT s.day, COALESCE(c.c, 0) AS doc_count
  FROM spine s LEFT JOIN counts c ON c.day = s.day
)
SELECT day, doc_count,
       CAST(SUM(doc_count) OVER (ORDER BY day) AS BIGINT) AS cumulative_count,
       doc_count - LAG(doc_count) OVER (ORDER BY day) AS derivative
FROM filled
""",
)
def search_date_histogram_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Elasticsearch ``date_histogram`` with ``min_doc_count: 0``
    (zero-filled calendar buckets — ES's extended-bounds gap fill) plus
    the two standard PIPELINE aggregations layered on the bucket
    series: ``cumulative_sum`` and ``derivative`` (null for the first
    bucket, exactly as ES emits). The dashboard primitive the
    reference's users point Kibana at; the zero-fill matters because a
    silent bucket gap makes derivatives lie.

    Deterministic: pure integer counts and calendar arithmetic; the day
    key stays a date_trunc TIMESTAMP (a DATE column would hash-compare
    differently across engines).

    Scale shape: one map-combinable day-grain count; the spine join and
    both pipeline windows run on |days| rows. The unpartitioned window
    is the documented aggregated-grain exemption — at 100 TB you'd
    partition the cumulative by calendar year and stitch offsets.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    bounds = counts.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.expr("interval 1 day"))
        ).alias("day")
    )
    filled = (
        spine.join(counts, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias(
                "doc_count"
            ),
        )
    )
    w = Window.orderBy("day")
    return filled.select(
        "day",
        "doc_count",
        F.sum("doc_count")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cumulative_count"),
        (F.col("doc_count") - F.lag("doc_count").over(w)).alias("derivative"),
    )


# Stored percolator queries: bool-must term sets over the fixture vocab.
PERCOLATE_QUERIES = (
    ("q_spark_join", ("spark", "join")),
    ("q_stream_window", ("stream", "window")),
    ("q_data_table_scan", ("data", "table", "scan")),
    ("q_vector", ("vector",)),
    ("q_merge_batch_sort", ("merge", "batch", "sort")),
)


@register(
    "search_percolate_queries",
    oracle=f"""
WITH stored (query_id, term) AS (
  VALUES {", ".join(f"('{qid}', '{t}')" for qid, ts in PERCOLATE_QUERIES for t in ts)}
),
qsize AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM stored GROUP BY query_id
),
tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
hits AS (
  SELECT s.query_id, t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM stored s JOIN tok t ON t.w = s.term
  GROUP BY s.query_id, t.doc_id
),
matched AS (
  SELECT h.query_id, h.doc_id
  FROM hits h JOIN qsize q USING (query_id)
  WHERE h.n_hit = q.n_terms
)
SELECT q.query_id, q.n_terms,
       CAST(COUNT(m.doc_id) AS BIGINT) AS n_matched_docs,
       CAST(COALESCE(SUM(m.doc_id), 0) AS BIGINT) AS matched_id_sum
FROM qsize q LEFT JOIN matched m USING (query_id)
GROUP BY q.query_id, q.n_terms
""",
)
def search_percolate_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch PERCOLATE: the reverse search — a registry of
    stored bool-must queries, and for each incoming document, which
    stored queries match it. Reported per stored query: how many
    documents percolated into it, plus an id checksum so the match SET
    (not just its size) is hash-verified. Percolation is how alerting /
    saved-search / routing works on an ES cluster, and its batch analog
    is exactly this: a join from the token table to the
    query-term table, then an ALL-terms-present count filter
    (relational division).

    Deterministic: integer counts and id sums; the stored queries are
    frozen literals.

    Scale shape: stored queries are a broadcast-tiny dimension; the
    token join is one pass over distinct (doc, term); the division
    check is a (query, doc)-grain count — no per-query scans, which is
    the whole point at 100 TB (percolating N queries costs ONE pass,
    not N).
    """
    d = load_table(spark, sf_dir, "documents")
    stored = spark.createDataFrame(
        [(qid, t) for qid, ts in PERCOLATE_QUERIES for t in ts],
        "query_id string, term string",
    )
    qsize = stored.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms")
    )
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    hits = (
        tok.join(
            F.broadcast(stored), F.col("w") == F.col("term")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    matched = hits.join(F.broadcast(qsize), "query_id").filter(
        F.col("n_hit") == F.col("n_terms")
    )
    return (
        qsize.join(matched.select("query_id", "doc_id"), "query_id", "left")
        .groupBy("query_id", "n_terms")
        .agg(
            F.count("doc_id").cast("bigint").alias("n_matched_docs"),
            F.coalesce(F.sum("doc_id"), F.lit(0))
            .cast("bigint")
            .alias("matched_id_sum"),
        )
    )


# Term suggester inputs: misspellings absent from the fixture vocabulary.
SUGGEST_INPUTS = ("spakr", "qurey", "tabel")
SUGGEST_MAX_EDITS = 2
SUGGEST_TOPK = 3


@register(
    "search_term_suggester",
    oracle=f"""
WITH vocab AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  GROUP BY w
),
inputs (misspelled) AS (
  VALUES {", ".join(f"('{s}')" for s in SUGGEST_INPUTS)}
),
scored AS (
  SELECT i.misspelled, v.w AS suggestion, v.freq,
         CAST(levenshtein(i.misspelled, v.w) AS BIGINT) AS edit_distance
  FROM inputs i JOIN vocab v
    ON levenshtein(i.misspelled, v.w) <= {SUGGEST_MAX_EDITS}
)
SELECT misspelled, suggestion, edit_distance, freq, rk FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY misspelled
           ORDER BY edit_distance, freq DESC, suggestion) AS rk
  FROM scored
) t WHERE rk <= {SUGGEST_TOPK}
""",
)
def search_term_suggester(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch TERM SUGGESTER ("did you mean"): for each
    misspelled input term, the top-{SUGGEST_TOPK} vocabulary terms
    within edit distance {SUGGEST_MAX_EDITS}, ranked ES-style (distance
    first, then corpus frequency, then the term). Both engines evaluate
    the same built-in levenshtein, so the ranking hash-matches exactly.

    Scale shape: the vocabulary is a one-pass token count; inputs are a
    broadcast-tiny dimension, so the distance scan is linear in |vocab|
    (NOT |corpus|). At real-vocabulary scale (10^7 terms) the linear
    scan gets the same length-bucket + prefix blocking treatment as
    join_fuzzy_levenshtein_blocked — the suggester is the single-column
    special case of that registered blocked fuzzy join.
    """
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    inputs = spark.createDataFrame(
        [(s,) for s in SUGGEST_INPUTS], "misspelled string"
    )
    scored = (
        vocab.crossJoin(F.broadcast(inputs))
        .select(
            "misspelled",
            F.col("w").alias("suggestion"),
            "freq",
            F.levenshtein("misspelled", "w").cast("bigint").alias(
                "edit_distance"
            ),
        )
        .filter(F.col("edit_distance") <= SUGGEST_MAX_EDITS)
    )
    return ranked_topk_per(
        scored, ["misspelled"],
        ["edit_distance", F.col("freq").desc(), "suggestion"], SUGGEST_TOPK,
        rk_cast="bigint",
    ).select("misspelled", "suggestion", "edit_distance", "freq", "rk")


# --- ES join-field queries (has_child / has_parent) --------------------------

HC_QUAL_MIN = 45.0  # has_child: a returned line with quantity >= this


@register(
    "search_es_join_field",
    oracle=f"""
WITH has_child AS (
  SELECT 'has_child' AS query_kind,
         CAST(COUNT(*) AS BIGINT) AS n_hits,
         CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT) AS id_checksum
  FROM orders o
  WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_returnflag = 'R' AND l.l_quantity >= {HC_QUAL_MIN}
  )
),
has_parent AS (
  SELECT 'has_parent' AS query_kind,
         CAST(COUNT(*) AS BIGINT) AS n_hits,
         CAST(COALESCE(SUM(l.l_orderkey * 100 + l.l_linenumber), 0)
              AS BIGINT) AS id_checksum
  FROM lineitem l
  WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_orderkey = l.l_orderkey
      AND o.o_orderpriority = '1-URGENT'
  )
)
SELECT * FROM has_child UNION ALL SELECT * FROM has_parent
""",
)
def search_es_join_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch JOIN-FIELD queries: ``has_child`` (parents with at
    least one child matching a predicate — orders with a returned line
    of quantity >= {HC_QUAL_MIN}) and ``has_parent`` (children whose
    parent matches — lines of urgent orders), the two query shapes ES
    serves over parent/child mappings where both document types live in
    one index routed by the parent key. In relational terms these are
    exactly LEFT SEMI joins in each direction, which is the point of
    the parity: what ES implements with global ordinals and routing,
    the engine expresses as semi-joins the optimizer can push, order,
    and broadcast. Hit sets are verified by id checksums, not just
    counts.

    Deterministic: integer counts and key checksums only.

    Scale shape: two semi-joins on the parent key — ES's routing
    requirement (parent and children co-located on one shard) is
    precisely a co-partitioned join at 100 TB; the bucketed-join twin
    (join_bucketed_colocated) carries that layout story.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hc_children = li.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= HC_QUAL_MIN)
    ).select(F.col("l_orderkey").alias("o_orderkey"))
    hc = (
        o.join(hc_children, "o_orderkey", "left_semi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.coalesce(F.sum("o_orderkey"), F.lit(0))
            .cast("bigint")
            .alias("id_checksum"),
        )
        .select(F.lit("has_child").alias("query_kind"), "n_hits", "id_checksum")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    hp = (
        li.join(urgent, "l_orderkey", "left_semi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.coalesce(
                F.sum(F.col("l_orderkey") * 100 + F.col("l_linenumber")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("id_checksum"),
        )
        .select(
            F.lit("has_parent").alias("query_kind"), "n_hits", "id_checksum"
        )
    )
    return hc.unionByName(hp)


# --- ES nested query (block-join scoring) + search_after cursor --------------

NESTED_TERM = "merge"
NESTED_CHUNK = 8  # tokens per nested child object (the Lucene block unit)
NESTED_TOPK = 12

SA_TERM = "window"
SA_PAGE_SIZE = 10  # hits per page; the query returns page 2 via the cursor


@register(
    "search_nested_block_join",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, w, (i - 1) // {NESTED_CHUNK} AS child_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents
  ) t
),
child_tf AS (
  SELECT doc_id, child_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE w = '{NESTED_TERM}' GROUP BY doc_id, child_id
),
ranked_children AS (
  SELECT doc_id, child_id, tf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, child_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
           AS n_matching_children,
         CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS sum_child_tf
  FROM child_tf
),
parents AS (
  SELECT doc_id, n_matching_children,
         CAST(child_id AS BIGINT) AS best_child,
         CAST(tf AS BIGINT) AS best_child_tf,
         sum_child_tf
  FROM ranked_children WHERE rn = 1
)
SELECT doc_id, n_matching_children, best_child, best_child_tf,
       sum_child_tf, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY best_child_tf DESC, sum_child_tf DESC, doc_id) AS rk
  FROM parents
) t WHERE rk <= {NESTED_TOPK}
""",
)
def search_nested_block_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` query: each document's
    fixed-size token chunks stand in for its array of nested objects —
    Lucene indexes those as hidden child docs in the parent's block,
    scores each child INDEPENDENTLY against the inner query (here:
    match {NESTED_TERM!r}, child score = its own tf, never the blended
    parent-level tf), then aggregates per parent. Both mainstream
    score_modes are returned side by side — ``max`` (best_child_tf,
    the default's cousin) and ``sum`` (sum_child_tf) — plus the
    ``inner_hits`` payload: the best child's index and the count of
    matching children. The defining semantic difference from a plain
    match is visible in the output: a parent with the term spread
    thinly across many chunks ranks BELOW a parent with one dense
    chunk, though their whole-doc tfs are equal.

    Deterministic: per-child term frequencies are exact integers; the
    ranking key (best_child_tf, sum_child_tf, doc_id) is all-integer.

    Scale shape: the (doc, child, token) pass is the standard nested
    index build (token grain, same shuffle class as every postings
    build); the query-time path filters to the term's child postings
    BEFORE the per-parent window, so scored mass is the term's child
    postings, never the corpus. At 100 TB the child_tf table is the
    persisted nested index partitioned by term; parent blocks never
    shuffle — exactly Lucene's same-block locality, expressed as a
    groupBy on doc_id.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    ).select(
        "doc_id",
        "w",
        F.floor(F.col("i") / NESTED_CHUNK).alias("child_id"),
    )
    child_tf = (
        tok.filter(F.col("w") == NESTED_TERM)
        .groupBy("doc_id", "child_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    wp = Window.partitionBy("doc_id")
    parents = (
        ranked_topk_per(
            child_tf.select(
                "doc_id",
                "child_id",
                "tf",
                F.count(F.lit(1)).over(wp).cast("bigint")
                .alias("n_matching_children"),
                F.sum("tf").over(wp).cast("bigint").alias("sum_child_tf"),
            ),
            ["doc_id"], [F.col("tf").desc(), "child_id"], 1, rk_col=None,
        )
        .select(
            "doc_id",
            "n_matching_children",
            F.col("child_id").cast("bigint").alias("best_child"),
            F.col("tf").cast("bigint").alias("best_child_tf"),
            "sum_child_tf",
        )
    )
    return (
        ranked_topk(parents, [F.col("best_child_tf").desc(), F.col("sum_child_tf").desc(), "doc_id"], NESTED_TOPK, rk_cast="bigint")
        .select(
            "doc_id",
            "n_matching_children",
            "best_child",
            "best_child_tf",
            "sum_child_tf",
            "rk",
        )
    )


@register(
    "search_after_cursor",
    oracle=f"""
WITH {_sql_bm25_one_term(SA_TERM)},
hits AS (
  SELECT doc_id, bm25,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
  FROM bm25_{SA_TERM}
),
cur AS (
  SELECT doc_id AS c_doc, bm25 AS c_score FROM hits
  WHERE rk = {SA_PAGE_SIZE}
),
page2 AS (
  SELECT h.doc_id, h.bm25,
         ROW_NUMBER() OVER (ORDER BY h.bm25 DESC, h.doc_id) AS rk
  FROM bm25_{SA_TERM} h CROSS JOIN cur c
  WHERE h.bm25 < c.c_score
     OR (h.bm25 = c.c_score AND h.doc_id > c.c_doc)
)
SELECT doc_id, bm25, CAST(rk AS BIGINT) AS page_rk
FROM page2 WHERE rk <= {SA_PAGE_SIZE}
""",
)
def search_after_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``search_after`` deep pagination (the hits-side twin of
    search_composite_agg's after-key contract):
    page 2 of the {SA_TERM!r} BM25 hit list is fetched NOT by
    from+size offset (which re-sorts and discards page 1's hits on
    every deep page) but by the cursor predicate — the last hit of
    page 1 contributes its sort values (score, doc_id), and page 2 is
    `WHERE (score, doc_id) after cursor ORDER BY ... LIMIT size`. The
    engine meaning: the hit sort must be a TOTAL order (hence the
    doc_id tiebreak ES requires via _shard_doc), because only a total
    order makes the cursor predicate reproduce exactly the offset
    slice — which is the equivalence this query's oracle pins.

    Deterministic: BM25 goes through the family's DECIMAL(28,6)
    quantization (shared `_bm25_agg` core), so both engines compare
    identical doubles; ties break on doc_id.

    Scale shape: THE reason search_after exists — offset pagination is
    O(from + size) per page at each shard, cursor pagination is
    O(size) past-the-cursor top-k. Here the cursor row is a one-row
    broadcast and the page is a filter + top-k over the term's
    postings-pruned scored docs; no global materialization of prior
    pages. At 100 TB a deep-paging export walks the whole hit list in
    O(n) total instead of O(n²/size).
    """
    scored = _bm25_agg(spark, sf_dir, (SA_TERM,)).select("doc_id", "bm25")
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    cursor = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == SA_PAGE_SIZE)
        .select(
            F.col("doc_id").alias("c_doc"), F.col("bm25").alias("c_score")
        )
    )
    after = scored.crossJoin(F.broadcast(cursor)).filter(
        (F.col("bm25") < F.col("c_score"))
        | (
            (F.col("bm25") == F.col("c_score"))
            & (F.col("doc_id") > F.col("c_doc"))
        )
    )
    return ranked_topk(
        after.select("doc_id", "bm25"), [F.col("bm25").desc(), "doc_id"],
        SA_PAGE_SIZE, rk_col="page_rk", rk_cast="bigint",
    )


# --- span_near, terms_set, boosting, function_score,
# --- date_histogram pipeline aggs, adjacency_matrix --------------------------

SPAN_A = "key"
SPAN_B = "join"
SPAN_SLOP = 3  # Lucene span_near slop: positions allowed between spans
SPAN_TOPK = 15

TS_TERMS = ("scan", "merge", "window", "query", "group")
TS_MSM = 4  # terms_set minimum_should_match

BQ_POS = "stream"
BQ_NEG = "slow"
BQ_NEG_BOOST = 0.25  # power of two: double-exact scaling in both engines
BQ_TOPK = 12

FSM_TERM = "query"
FSM_TOPK = 10

AM_FILTERS = ("scan", "merge", "stream")  # adjacency_matrix filter terms


@register(
    "search_span_near",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, w, i FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents
  ) t WHERE w IN ('{SPAN_A}', '{SPAN_B}')
),
pairs AS (
  SELECT a.doc_id,
         abs(a.i - b.i) - 1 AS dist
  FROM pos a JOIN pos b
    ON b.doc_id = a.doc_id AND a.w = '{SPAN_A}' AND b.w = '{SPAN_B}'
  WHERE abs(a.i - b.i) - 1 <= {SPAN_SLOP}
),
docs AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_span_pairs,
         CAST(MIN(dist) AS BIGINT) AS min_dist
  FROM pairs GROUP BY doc_id
)
SELECT doc_id, n_span_pairs, min_dist, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY n_span_pairs DESC, min_dist, doc_id) AS rk
  FROM docs
) t WHERE rk <= {SPAN_TOPK}
""",
)
def search_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES/Lucene ``span_near`` (in_order=false): {SPAN_A!r} and
    {SPAN_B!r} within slop={SPAN_SLOP} positions of each other, in
    either order — the proximity query BETWEEN exact phrase (slop 0,
    ordered: search_phrase_positional) and plain co-occurrence bool
    AND. Per doc: the number of qualifying position pairs (the span
    count Lucene's scorer enumerates) and the tightest distance;
    ranked by pair count, then tightness.

    Deterministic: all-integer positional arithmetic (each engine's own
    token numbering — only position DIFFERENCES cross the comparison).

    Scale shape: both postings lists are filtered to the two terms
    BEFORE the per-doc position join (`w IN (a, b)` prunes at token
    grain), so join input is the two terms' postings mass; the pair
    join is per-doc-keyed, never cross-doc. At 100 TB this is the
    standard positional-index span scan, partitioned by term then doc.
    """
    d = load_table(spark, sf_dir, "documents")
    pos = (
        d.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
        )
        .filter(F.col("w").isin(SPAN_A, SPAN_B))
    )
    a = pos.filter(F.col("w") == SPAN_A).select("doc_id", F.col("i").alias("ia"))
    b = pos.filter(F.col("w") == SPAN_B).select(
        F.col("doc_id").alias("db"), F.col("i").alias("ib")
    )
    pairs = a.join(b, a["doc_id"] == b["db"]).select(
        "doc_id", (F.abs(F.col("ia") - F.col("ib")) - 1).alias("dist")
    ).filter(F.col("dist") <= SPAN_SLOP)
    docs = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_span_pairs"),
        F.min("dist").cast("bigint").alias("min_dist"),
    )
    return (
        ranked_topk(docs, [F.col("n_span_pairs").desc(), "min_dist", "doc_id"], SPAN_TOPK, rk_cast="bigint")
        .select("doc_id", "n_span_pairs", "min_dist", "rk")
    )


@register(
    "search_terms_set",
    oracle=f"""
WITH matched AS (
  SELECT doc_id, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_matched
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) t
  WHERE w IN {TS_TERMS!r}
  GROUP BY doc_id
)
SELECT n_matched,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM matched
WHERE n_matched >= {TS_MSM}
GROUP BY n_matched
""",
)
def search_terms_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms_set`` query: match documents containing at least
    minimum_should_match={TS_MSM} DISTINCT terms of the
    {len(TS_TERMS)}-term set {TS_TERMS!r} — the quorum query between
    bool-should (any) and bool-must (all). Hit sets are verified by
    per-quorum-level doc counts AND id checksums, not just counts.

    Deterministic: distinct-term counting and integer checksums only.

    Scale shape: the token scan prunes to the 5 query terms before any
    aggregation (postings mass, not corpus mass), then one doc-grain
    distinct-count — the same plan ES runs against the terms'
    postings with a CoveringScorer quorum.
    """
    d = load_table(spark, sf_dir, "documents")
    matched = (
        d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .filter(F.col("w").isin(*TS_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("w").cast("bigint").alias("n_matched"))
    )
    return (
        matched.filter(F.col("n_matched") >= TS_MSM)
        .groupBy("n_matched")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "search_boosting_query",
    oracle=f"""
WITH {_sql_bm25_one_term(BQ_POS)},
neg AS (
  SELECT DISTINCT doc_id FROM tok WHERE w = '{BQ_NEG}'
),
scored AS (
  SELECT p.doc_id,
         p.bm25 * CASE WHEN n.doc_id IS NULL THEN 1.0
                       ELSE {BQ_NEG_BOOST!r} END AS score,
         CASE WHEN n.doc_id IS NULL THEN 0 ELSE 1 END AS demoted
  FROM bm25_{BQ_POS} p LEFT JOIN neg n USING (doc_id)
)
SELECT doc_id, score, CAST(demoted AS BIGINT) AS demoted,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
  FROM scored
) t WHERE rk <= {BQ_TOPK}
""",
)
def search_boosting_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``boosting`` query: hits matching the positive query
    ({BQ_POS!r}, BM25-scored) keep their score unless they ALSO match
    the negative query ({BQ_NEG!r}), in which case the score is
    multiplied by negative_boost={BQ_NEG_BOOST} — demotion without
    exclusion, the query ES offers where bool-must_not would be too
    blunt. The demoted flag is returned so the reordering is visible.

    Deterministic: BM25 rides the family's DECIMAL(28,6) quantization;
    the negative_boost is a power of two, so the demotion multiply is
    EXACT in IEEE doubles — both engines compare identical scores.

    Scale shape: positive postings scored as usual; the negative query
    contributes only a DISTINCT doc-id set LEFT-JOINED at hit grain
    (postings mass, no corpus scan); top-k at the end.
    """
    pos = _bm25_agg(spark, sf_dir, (BQ_POS,)).select("doc_id", "bm25")
    neg = (
        _postings_memo(spark, sf_dir)
        .filter(F.col("w") == BQ_NEG)
        .select("doc_id")
        .distinct()
        .withColumn("demoted_flag", F.lit(1))
    )
    scored = pos.join(neg, "doc_id", "left").select(
        "doc_id",
        (
            F.col("bm25")
            * F.when(F.col("demoted_flag").isNull(), F.lit(1.0)).otherwise(
                F.lit(BQ_NEG_BOOST)
            )
        ).alias("score"),
        F.coalesce(F.col("demoted_flag"), F.lit(0))
        .cast("bigint")
        .alias("demoted"),
    )
    return (
        ranked_topk(scored, [F.col("score").desc(), "doc_id"], BQ_TOPK, rk_cast="bigint")
        .select("doc_id", "score", "demoted", "rk")
    )


@register(
    "search_function_score",
    oracle=f"""
WITH {_sql_bm25_one_term(FSM_TERM)},
scored AS (
  SELECT b.doc_id,
         b.bm25,
         sqrt(CAST(d.n_chars AS DOUBLE)) AS field_factor,
         b.bm25 * sqrt(CAST(d.n_chars AS DOUBLE)) AS score
  FROM bm25_{FSM_TERM} b JOIN documents d USING (doc_id)
)
SELECT doc_id, bm25, field_factor, score, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
  FROM scored
) t WHERE rk <= {FSM_TOPK}
""",
)
def search_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``function_score`` with ``field_value_factor`` (modifier:
    sqrt, boost_mode: multiply): final score = BM25({FSM_TERM!r}) ×
    sqrt(n_chars) — relevance re-weighted by a document-level signal
    (the popularity/recency/length boost every production ranker
    layers on text score). Both factors are returned so the
    re-ranking is auditable. Decay functions (gauss/exp/linear) are
    the same join-then-multiply shape with a distance kernel; sqrt is
    used here because IEEE 754 requires it correctly rounded, making
    the oracle comparison exact where exp() would not be.

    Deterministic: BM25 through the family's DECIMAL(28,6)
    quantization; sqrt and the final multiply are single correctly-
    rounded IEEE ops on identical inputs in both engines.

    Scale shape: hit-grain join of scored postings to the doc-metadata
    column (broadcastable at hit grain, column-pruned to n_chars at
    the scan); top-k at the end. At 100 TB the field factor reads a
    doc-values column exactly like ES.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = _bm25_agg(spark, sf_dir, (FSM_TERM,)).select("doc_id", "bm25")
    ff = F.sqrt(F.col("n_chars").cast("double"))
    scored = b.join(d, "doc_id").select(
        "doc_id",
        "bm25",
        ff.alias("field_factor"),
        (F.col("bm25") * ff).alias("score"),
    )
    return (
        ranked_topk(scored, [F.col("score").desc(), "doc_id"], FSM_TOPK, rk_cast="bigint")
        .select("doc_id", "bm25", "field_factor", "score", "rk")
    )


@register(
    "agg_date_histogram_pipeline",
    oracle=f"""
WITH hist AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {sql_dsum('value')} AS sum_value
  FROM events GROUP BY day
),
pipe AS (
  SELECT day, n_events, sum_value,
         n_events - LAG(n_events) OVER (ORDER BY day) AS deriv_n,
         CAST(SUM(n_events) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_events,
         CAST(SUM(CAST(sum_value AS DECIMAL(18,6))) OVER (ORDER BY day
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS moving_sum3_value
  FROM hist
)
SELECT day, n_events, CAST(deriv_n AS BIGINT) AS deriv_n, cum_events,
       sum_value, moving_sum3_value
FROM pipe
WHERE deriv_n > 0
""",
)
def agg_date_histogram_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``date_histogram`` + the pipeline-aggregation family in one
    request: daily buckets over the events feed, then ``derivative``
    (day-over-day change in doc count), ``cumulative_sum``,
    ``moving_fn`` (trailing 3-bucket sum of the value metric), and a
    ``bucket_selector`` keeping only buckets whose derivative is
    positive (days the feed GREW — the alerting shape pipeline aggs
    exist for). Pipeline aggs are ES's only post-aggregation compute;
    their engine meaning is exactly a window over the bucket table,
    which is what this proves.

    Deterministic: integer counts/derivatives; value sums and the
    moving window go through DECIMAL(18,6) (exact, order-independent);
    the day key is emitted as a timestamp (cross-engine DATE hashing
    differs — repo gotcha).

    Scale shape: one shuffle at bucket (day) grain, then a window over
    |buckets| rows — 30 here, ~37k for a century of days; the bucket
    table is always dictionary-small next to the fact scan, so the
    unpartitioned window is the right plan at any corpus size (the
    same coordinator-side compute ES runs).
    """
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    w = Window.orderBy("day")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wmov = w.rowsBetween(-2, Window.currentRow)
    pipe = hist.select(
        "day",
        "n_events",
        "sum_value",
        (F.col("n_events") - F.lag("n_events").over(w))
        .cast("bigint")
        .alias("deriv_n"),
        F.sum("n_events").over(wcum).cast("bigint").alias("cum_events"),
        F.sum(F.col("sum_value").cast("decimal(18,6)"))
        .over(wmov)
        .cast("double")
        .alias("moving_sum3_value"),
    )
    return pipe.filter(F.col("deriv_n") > 0).select(
        "day",
        "n_events",
        "deriv_n",
        "cum_events",
        "sum_value",
        "moving_sum3_value",
    )


@register(
    "agg_adjacency_matrix",
    oracle=f"""
WITH flags AS (
  SELECT doc_id, w FROM (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents
  ) t WHERE w IN {AM_FILTERS!r}
)
SELECT a.w AS filter_a, b.w AS filter_b,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(a.doc_id) AS BIGINT) AS id_checksum
FROM flags a JOIN flags b ON a.doc_id = b.doc_id AND a.w <= b.w
GROUP BY a.w, b.w
""",
)
def agg_adjacency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation: given named filters (here
    the {len(AM_FILTERS)} term filters {AM_FILTERS!r}), one bucket per
    filter and per pairwise INTERSECTION (a&b), each with its doc
    count — the co-occurrence matrix ES computes for graph/Venn UIs.
    Diagonal buckets (a = a) are the plain filter counts; off-diagonal
    are the overlaps. Checksums pin the hit sets.

    Deterministic: distinct (doc, matched-filter) pairs, integer
    counts and id checksums.

    Scale shape: the token scan prunes to the filter terms, then the
    pair join is per-doc-keyed over per-doc filter flags (each doc
    contributes at most C({len(AM_FILTERS)},2)+{len(AM_FILTERS)}
    pairs — bounded by the FILTER count, not by corpus or postings
    skew). ES caps filters at ~100 for the same quadratic-in-filters,
    linear-in-docs reason.
    """
    d = load_table(spark, sf_dir, "documents")
    flags = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").isin(*AM_FILTERS))
        .distinct()
    )
    a = flags.select(F.col("doc_id"), F.col("w").alias("filter_a"))
    b = flags.select(
        F.col("doc_id").alias("db"), F.col("w").alias("filter_b")
    )
    return (
        a.join(
            b,
            (a["doc_id"] == b["db"])
            & (F.col("filter_a") <= F.col("filter_b")),
        )
        .groupBy("filter_a", "filter_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


# --- histogram w/ empty buckets, extended_stats,
# --- percentile_ranks, filters agg, top_hits, geo_distance (plane) -----------

HIST_INTERVAL = 50  # events.value histogram interval (ES histogram agg)

XS_SIGMA = 2  # extended_stats std_deviation_bounds sigma

PR_THRESHOLDS = (128, 256, 384)  # percentile_ranks over documents.n_chars

FA_LANG_A = "en"
FA_LANG_B = "zh"

TH_PER_BUCKET = 2  # top_hits size per terms bucket

GEO_SCALE = 100.0  # synthetic planar projection of embedding dims 0/1
GEO_RADIUS = 10.0
GEO_TOPK = 15


@register(
    "agg_histogram_empty_buckets",
    oracle=f"""
WITH bounds AS (
  SELECT CAST(floor(MIN(value) / {HIST_INTERVAL}.0) AS BIGINT) AS lo,
         CAST(floor(MAX(value) / {HIST_INTERVAL}.0) AS BIGINT) AS hi
  FROM events
),
keys AS (
  SELECT CAST(unnest(generate_series(lo, hi)) AS BIGINT) AS bucket_idx
  FROM bounds
),
counts AS (
  SELECT CAST(floor(value / {HIST_INTERVAL}.0) AS BIGINT) AS bucket_idx,
         CAST(COUNT(*) AS BIGINT) AS doc_count,
         {sql_dsum('value')} AS sum_value
  FROM events GROUP BY bucket_idx
)
SELECT k.bucket_idx,
       CAST(k.bucket_idx * {HIST_INTERVAL} AS BIGINT) AS bucket_lo,
       CAST(COALESCE(c.doc_count, 0) AS BIGINT) AS doc_count,
       CAST(COALESCE(c.sum_value, 0.0) AS DOUBLE) AS sum_value
FROM keys k LEFT JOIN counts c USING (bucket_idx)
""",
)
def agg_histogram_empty_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``histogram`` aggregation with ``min_doc_count: 0``: fixed
    {HIST_INTERVAL}-wide buckets over events.value INCLUDING empty
    buckets between the global min and max keys — the gap-filling
    contract charting clients rely on (a missing bucket and a zero
    bucket render differently). The engine shape is the interesting
    part: the key range is generated (sequence/generate_series), not
    scanned, then LEFT-joined to the measured buckets.

    Deterministic: integer bucket indexes (floor of a single double
    divide, same IEEE op both engines); sums through DECIMAL(18,6).

    Scale shape: one bucket-grain shuffle for the counts; the
    generated key spine is |key range| rows (interval-bounded,
    corpus-independent) and broadcast-joinable. At 100 TB the spine is
    still tiny; empty-bucket fill never touches the fact table.
    """
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy(
        F.floor(F.col("value") / float(HIST_INTERVAL))
        .cast("bigint")
        .alias("bucket_idx")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_count"),
        dsum("value").alias("sum_value"),
    )
    bounds = e.agg(
        F.floor(F.min("value") / float(HIST_INTERVAL))
        .cast("bigint")
        .alias("lo"),
        F.floor(F.max("value") / float(HIST_INTERVAL))
        .cast("bigint")
        .alias("hi"),
    )
    keys = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("bucket_idx")
    )
    return keys.join(counts, "bucket_idx", "left").select(
        "bucket_idx",
        (F.col("bucket_idx") * HIST_INTERVAL).cast("bigint").alias("bucket_lo"),
        F.coalesce(F.col("doc_count"), F.lit(0))
        .cast("bigint")
        .alias("doc_count"),
        F.coalesce(F.col("sum_value"), F.lit(0.0))
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "agg_extended_stats",
    oracle=f"""
WITH s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(n_chars) AS BIGINT) AS min_chars,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sum_sq
  FROM documents GROUP BY source
)
SELECT source, n, min_chars, max_chars, sum_chars,
       CAST(sum_chars AS DOUBLE) / n AS avg_chars,
       CAST(n * sum_sq - sum_chars * sum_chars AS DOUBLE) / (n * n)
         AS variance,
       sqrt(CAST(n * sum_sq - sum_chars * sum_chars AS DOUBLE) / (n * n))
         AS std_dev,
       CAST(sum_chars AS DOUBLE) / n
         + {XS_SIGMA}.0 * sqrt(CAST(n * sum_sq - sum_chars * sum_chars
                                    AS DOUBLE) / (n * n)) AS upper_bound
FROM s
""",
)
def agg_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``extended_stats`` aggregation per terms bucket (source):
    count/min/max/sum plus variance, std deviation, and the
    std_deviation_bounds upper bound (avg + {XS_SIGMA}·σ) that ES
    clients chart as the band. Population variance, like ES.

    Deterministic: n_chars is integral, so sum and sum-of-squares are
    EXACT BIGINTs; variance = (n·Σx² − (Σx)²)/n² does every lossy step
    in one double division from exact integer inputs (the two-pass
    E[x²]−E[x]² form would round twice and disagree across engines);
    sqrt is IEEE-correctly-rounded; the bound is the same three ops in
    the same order in both dialects.

    Scale shape: one map-side-combinable aggregation at bucket grain —
    sums and squared sums are the textbook distributive aggregates, so
    at 100 TB this is a single shuffle of |buckets| partial states.
    """
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("sum_sq"),
    )
    var = (
        (F.col("n") * F.col("sum_sq") - F.col("sum_chars") * F.col("sum_chars"))
        .cast("double")
        / (F.col("n") * F.col("n"))
    )
    avg = F.col("sum_chars").cast("double") / F.col("n")
    return s.select(
        "source",
        "n",
        "min_chars",
        "max_chars",
        "sum_chars",
        avg.alias("avg_chars"),
        var.alias("variance"),
        F.sqrt(var).alias("std_dev"),
        (avg + float(XS_SIGMA) * F.sqrt(var)).alias("upper_bound"),
    )


@register(
    "agg_percentile_ranks",
    oracle=f"""
WITH t AS (
  SELECT CAST(unnest({list(PR_THRESHOLDS)!r}) AS BIGINT) AS threshold
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
SELECT t.threshold,
       CAST(COUNT(*) FILTER (WHERE d.n_chars <= t.threshold) AS BIGINT)
         AS n_at_or_below,
       100.0 * COUNT(*) FILTER (WHERE d.n_chars <= t.threshold) / MAX(tot.n)
         AS pct_rank
FROM t CROSS JOIN documents d CROSS JOIN tot
GROUP BY t.threshold
""",
)
def agg_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``percentile_ranks`` aggregation: for each query value, the
    percentage of observed values at or below it — the inverse lookup
    of the percentiles agg. ES computes this on a t-digest sketch with
    rank error; this is the EXACT answer (strictly stronger, the same
    relationship the registry's HLL/KLL rows have to their sketches),
    which is the right trade at engine level because exact rank counts
    are a distributive aggregate while a mergeable digest only matters
    when the value multiset itself cannot be re-scanned.

    Deterministic: integer threshold comparisons and counts; one
    double division per output row (identical op both engines).

    Scale shape: thresholds broadcast against the fact scan; one
    map-side-combinable conditional count per threshold — a single
    corpus pass regardless of threshold count, no sort, no holistic
    buffering (the exact-percentile trap the sort-key advisor row
    documents is avoided because ranks of GIVEN values need counts,
    not order statistics).
    """
    d = load_table(spark, sf_dir, "documents")
    t = spark.createDataFrame(
        [(int(v),) for v in PR_THRESHOLDS], "threshold bigint"
    )
    joined = F.broadcast(t).crossJoin(d.select("n_chars"))
    tot = d.count()
    return joined.groupBy("threshold").agg(
        F.sum((F.col("n_chars") <= F.col("threshold")).cast("bigint"))
        .cast("bigint")
        .alias("n_at_or_below"),
        (
            F.lit(100.0)
            * F.sum((F.col("n_chars") <= F.col("threshold")).cast("bigint"))
            / F.lit(tot)
        ).alias("pct_rank"),
    )


@register(
    "agg_filters_other_bucket",
    oracle=f"""
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM (
  SELECT doc_id,
         CASE WHEN lang = '{FA_LANG_A}' THEN '{FA_LANG_A}'
              WHEN lang = '{FA_LANG_B}' THEN '{FA_LANG_B}'
              ELSE '_other_' END AS bucket
  FROM documents
) t
GROUP BY bucket
""",
)
def agg_filters_other_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``filters`` aggregation with ``other_bucket: true``: named
    filter buckets ({FA_LANG_A!r}, {FA_LANG_B!r}) plus the `_other_`
    bucket catching every document matching none — the disjoint-
    partition contract (each doc lands in exactly one bucket here,
    since the filters are mutually exclusive) that dashboards build
    segment breakdowns on. Hit sets pinned by id checksums.

    Deterministic: string equality, integer counts/checksums.

    Scale shape: a single CASE projection then bucket-grain counts —
    one map-side-combinable pass, no joins; the cheapest agg in the
    DSL and deliberately so here (the row exists to pin other_bucket
    SEMANTICS, not plan complexity).
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("lang") == FA_LANG_A, F.lit(FA_LANG_A))
        .when(F.col("lang") == FA_LANG_B, F.lit(FA_LANG_B))
        .otherwise(F.lit("_other_"))
    )
    return (
        d.select("doc_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "agg_top_hits",
    oracle=f"""
SELECT source, CAST(hit_rank AS BIGINT) AS hit_rank, doc_id, n_chars
FROM (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS hit_rank
  FROM documents
) t
WHERE hit_rank <= {TH_PER_BUCKET}
""",
)
def agg_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``top_hits`` sub-aggregation: inside each terms bucket
    (source), return the top {TH_PER_BUCKET} documents by a sort
    (n_chars desc, doc_id tiebreak) — the "show me examples per
    segment" agg. Distinct from field collapsing
    (search_collapse_field): collapse dedups the global HIT LIST by a
    key; top_hits enriches an AGGREGATION's buckets with documents.

    Deterministic: integer sort keys, total order via the doc_id
    tiebreak.

    Scale shape: a per-bucket top-k window — partitioned by the terms
    key, so it shuffles once at bucket grain and keeps k rows per
    bucket; at 100 TB this is a rank-pruned window (Spark pushes the
    rk<=k limit into the sort via WindowGroupLimit), never a global
    sort.
    """
    d = load_table(spark, sf_dir, "documents")
    return ranked_topk_per(
        d.select(
            "source", "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
        ),
        ["source"], [F.col("n_chars").desc(), "doc_id"], TH_PER_BUCKET,
        rk_col="hit_rank", rk_cast="bigint",
    ).select("source", "hit_rank", "doc_id", "n_chars")


@register(
    "search_geo_distance_plane",
    oracle=f"""
WITH pts AS (
  SELECT vec_id,
         CAST(embedding[1] AS DOUBLE) * {GEO_SCALE!r} AS px,
         CAST(embedding[2] AS DOUBLE) * {GEO_SCALE!r} AS py
  FROM embeddings
),
dists AS (
  SELECT vec_id, px, py, sqrt(px * px + py * py) AS dist
  FROM pts
)
SELECT vec_id, dist, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT vec_id, dist,
         ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rk
  FROM dists WHERE dist <= {GEO_RADIUS!r}
) t WHERE rk <= {GEO_TOPK}
""",
)
def search_geo_distance_plane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``geo_distance`` query with ``distance_type: plane`` plus
    geo-distance SORT: points within radius {GEO_RADIUS} of the
    origin, nearest-first top-{GEO_TOPK}. The fixture has no lat/lon,
    so the first two embedding dims × {GEO_SCALE} stand in as a planar
    projection — honest about what it is, and exactly the compute
    shape of ES's plane mode (arc mode swaps in the haversine kernel;
    plane is chosen here because sqrt is IEEE-correctly-rounded and
    trig is not, keeping the oracle comparison exact).

    Deterministic: float32→double widening is exact; px·px + py·py and
    the sqrt are the same three correctly-rounded IEEE ops in both
    engines; ties break on vec_id.

    Scale shape: a map-only projection + filter then top-k — no
    shuffle until the k-row ordering. At 100 TB a real geo index
    prunes by cell first (the IVF-cell pattern the ANN family already
    carries); the post-prune per-candidate kernel is THIS query.
    """
    e = load_table(spark, sf_dir, "embeddings")
    px = F.element_at("embedding", 1).cast("double") * GEO_SCALE
    py = F.element_at("embedding", 2).cast("double") * GEO_SCALE
    dists = e.select(
        "vec_id",
        F.sqrt(px * px + py * py).alias("dist"),
    ).filter(F.col("dist") <= GEO_RADIUS)
    return (
        ranked_topk(dists, ["dist", "vec_id"], GEO_TOPK, rk_cast="bigint")
        .select("vec_id", "dist", "rk")
    )


# --- regexp, sampler, weighted_avg, missing, geo_bounds,
# --- bucket_script+bucket_sort, range agg ------------------------------------

RX_PATTERN = "^[a-z]*n$"  # ES regexp query: anchored automaton over terms
RX_TOPN = 10

SAMPLER_N = 100  # sampler agg shard_size

WA_MOD = 5  # weighted_avg weight = user_id % 5 + 1

BSS_KEEP = 3  # bucket_sort truncation

RANGE_EDGES = (128, 256, 384)  # range agg bucket edges over n_chars


@register(
    "search_regexp_term",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
matched AS (
  SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS tf_total
  FROM tok WHERE regexp_matches(w, '{RX_PATTERN}')
  GROUP BY w
)
SELECT w AS term, df, tf_total, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY df DESC, w) AS rk FROM matched
) t WHERE rk <= {RX_TOPN}
""",
)
def search_regexp_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``regexp`` query: the pattern {RX_PATTERN!r} is compiled to
    an automaton and intersected with the TERM DICTIONARY (never run
    over document text — Lucene walks the FST), then the matched
    terms' postings are unioned. Returned at term grain (df + total
    tf, top-{RX_TOPN} by df) — the expansion set a multi-term query
    rewrite produces, completing the dictionary-expansion family
    prefix/wildcard/fuzzy started.

    Deterministic: the pattern is anchored, character-class-only regex
    (identical semantics in Spark's Java regex and DuckDB's RE2);
    counts are integers.

    Scale shape: the regex runs once per DISTINCT term (dictionary
    grain, Heaps-sublinear) after a token-grain count — never per
    token occurrence; matched-term postings stats come from the same
    grouped pass. At 100 TB the dictionary is the persisted term FST
    and this is an index-only query.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    matched = (
        tok.filter(F.col("w").rlike(RX_PATTERN))
        .groupBy("w")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("df"),
            F.count(F.lit(1)).cast("bigint").alias("tf_total"),
        )
    )
    return (
        ranked_topk(matched, [F.col("df").desc(), "w"], RX_TOPN, rk_cast="bigint")
        .select(F.col("w").alias("term"), "df", "tf_total", "rk")
    )


@register(
    "agg_sampler_lang_breakdown",
    oracle=f"""
WITH sampled AS (
  SELECT doc_id, lang FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {SAMPLER_N}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS sample_count,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM sampled GROUP BY lang
""",
)
def agg_sampler_lang_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``sampler`` aggregation: run the sub-aggregation (a lang
    terms breakdown) over only the top shard_size={SAMPLER_N} docs
    instead of every hit — the cost-bounding wrapper for expensive
    sub-aggs like significant_terms. ES samples by score; with no
    query score here the deterministic analog is the md5-order prefix
    (the repo's integer-threshold sampling idiom: a reproducible
    pseudo-random {SAMPLER_N}-doc sample both engines agree on
    byte-for-byte, doc_id tiebreak for md5 collisions).

    Deterministic: md5-of-decimal-string ordering is identical in both
    engines (pinned by the codebook-law parity tests); counts and
    checksums are integers.

    Scale shape: the sample is a global top-k by hash (k rows out of
    the scan, no full sort — rank-pruned), and the sub-agg then runs
    on k rows regardless of corpus size — exactly the cost bound the
    ES agg exists to provide.
    """
    d = load_table(spark, sf_dir, "documents")
    sampled = ranked_topk(
        d.select("doc_id", "lang"),
        [F.md5(F.col("doc_id").cast("string")), "doc_id"],
        SAMPLER_N,
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("sample_count"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


@register(
    "agg_weighted_avg",
    oracle=f"""
SELECT event_type,
       CAST(SUM(CAST(user_id % {WA_MOD} + 1 AS BIGINT)) AS BIGINT)
         AS sum_weight,
       {sql_dsum(f'value * (user_id % {WA_MOD} + 1)')} AS sum_wv,
       CAST(CAST(SUM(CAST(value * (user_id % {WA_MOD} + 1)
              AS DECIMAL(18,6))) AS DOUBLE)
            / SUM(CAST(user_id % {WA_MOD} + 1 AS BIGINT)) AS DOUBLE)
         AS weighted_avg
FROM events GROUP BY event_type
""",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``weighted_avg`` aggregation per terms bucket (event_type):
    Σ(w·v)/Σw with weight = user_id % {WA_MOD} + 1 (a deterministic
    per-row weight standing in for the quantity/confidence field a
    real mapping would carry). Both running sums are returned so the
    division is auditable.

    Deterministic: the weighted products go through DECIMAL(18,6)
    (exact, order-independent); the weight sum is integral; ONE double
    division at the end.

    Scale shape: two distributive sums per bucket — map-side
    combinable, one shuffle at bucket grain.
    """
    e = load_table(spark, sf_dir, "events")
    wcol = (F.col("user_id") % WA_MOD + 1).cast("bigint")
    wv = F.col("value") * (F.col("user_id") % WA_MOD + 1)
    return e.groupBy("event_type").agg(
        F.sum(wcol).cast("bigint").alias("sum_weight"),
        F.sum(wv.cast("decimal(18,6)")).cast("double").alias("sum_wv"),
        (
            F.sum(wv.cast("decimal(18,6)")).cast("double")
            / F.sum(wcol)
        )
        .cast("double")
        .alias("weighted_avg"),
    )


@register(
    "agg_missing_bucket",
    oracle="""
WITH cf AS (
  SELECT event_id,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END
           AS qualifier
  FROM events
)
SELECT COALESCE(qualifier, '_missing_') AS qualifier_bucket,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM cf GROUP BY qualifier_bucket
""",
)
def agg_missing_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``missing`` aggregation composed with a terms agg (the
    ``missing`` bucket parameter): the changefeed's qualifier field is
    NULL on delete mutations, and a terms breakdown must surface those
    as an explicit `_missing_` bucket rather than silently dropping
    them — the field-absence semantics ES dashboards rely on (documents
    without the field are a bucket, not an error). Checksums pin
    membership.

    Deterministic: string/NULL handling and integer counts only.

    Scale shape: single map-side-combinable pass; NULL-coalescing adds
    no shuffle. The point of the row is semantic (NULL → named bucket
    at the AGG layer, distinct from the CDC layer's tombstone
    semantics which delete state).
    """
    e = load_table(spark, sf_dir, "events")
    q = F.when(
        F.col("event_type") == "error", F.lit(None).cast("string")
    ).otherwise(F.col("event_type"))
    return (
        e.select("event_id", q.alias("qualifier"))
        .groupBy(
            F.coalesce(F.col("qualifier"), F.lit("_missing_")).alias(
                "qualifier_bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.sum("event_id").cast("bigint").alias("id_checksum"),
        )
    )


@register(
    "agg_geo_bounds_centroid",
    oracle=f"""
WITH pts AS (
  SELECT label,
         CAST(embedding[1] AS DOUBLE) * {GEO_SCALE!r} AS px,
         CAST(embedding[2] AS DOUBLE) * {GEO_SCALE!r} AS py
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(px) AS min_x, MAX(px) AS max_x,
       MIN(py) AS min_y, MAX(py) AS max_y,
       CAST(CAST(SUM(CAST(px AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
            AS DOUBLE) AS centroid_x,
       CAST(CAST(SUM(CAST(py AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
            AS DOUBLE) AS centroid_y
FROM pts GROUP BY label
""",
)
def agg_geo_bounds_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``geo_bounds`` + ``geo_centroid`` aggregations per terms
    bucket (label), over the same synthetic planar projection as
    search_geo_distance_plane: the bounding box (min/max of each
    coordinate) and the centroid (mean coordinate) of each bucket's
    points — the two metric aggs every ES map UI requests together.

    Deterministic: min/max are order-free; centroid means go through
    DECIMAL(18,6) sums (exact, order-independent) with one double
    division each.

    Scale shape: all six metrics are distributive/algebraic —
    map-side-combined partials, one shuffle at bucket grain, the same
    plan at any corpus size.
    """
    e = load_table(spark, sf_dir, "embeddings")
    px = F.element_at("embedding", 1).cast("double") * GEO_SCALE
    py = F.element_at("embedding", 2).cast("double") * GEO_SCALE
    pts = e.select(
        F.col("label").cast("bigint").alias("label"),
        px.alias("px"),
        py.alias("py"),
    )
    return pts.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("px").alias("min_x"),
        F.max("px").alias("max_x"),
        F.min("py").alias("min_y"),
        F.max("py").alias("max_y"),
        (F.sum(F.col("px").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("centroid_x"),
        (F.sum(F.col("py").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("centroid_y"),
    )


@register(
    "agg_bucket_script_sort",
    oracle=f"""
WITH buckets AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY source
),
scripted AS (
  SELECT source, n_docs, n_langs, sum_chars,
         CAST(sum_chars AS DOUBLE) / n_docs AS chars_per_doc
  FROM buckets
)
SELECT source, n_docs, n_langs, sum_chars, chars_per_doc,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY chars_per_doc DESC, source) AS rk
  FROM scripted
) t WHERE rk <= {BSS_KEEP}
""",
)
def agg_bucket_script_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_script`` + ``bucket_sort`` pipeline aggregations:
    per-source terms buckets get a SCRIPTED derived metric
    (chars_per_doc = sum_chars / doc_count — the ratio metric
    bucket_script exists for, since no primary agg computes ratios),
    then bucket_sort orders the buckets by it and TRUNCATES to the top
    {BSS_KEEP} — pagination/ranking applied to buckets rather than
    hits. Completes the pipeline-agg family next to
    derivative/cumulative/moving/selector
    (agg_date_histogram_pipeline).

    Deterministic: integer inputs; one double division per bucket
    (identical op both engines); total order via the source tiebreak.

    Scale shape: bucket-grain compute after one aggregation shuffle;
    the sort/truncate runs over |buckets| rows (dictionary-small) —
    coordinator-side work in ES, a k-row window here.
    """
    d = load_table(spark, sf_dir, "documents")
    buckets = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    scripted = buckets.withColumn(
        "chars_per_doc",
        F.col("sum_chars").cast("double") / F.col("n_docs"),
    )
    return (
        ranked_topk(scripted, [F.col("chars_per_doc").desc(), "source"], BSS_KEEP, rk_cast="bigint")
        .select(
            "source", "n_docs", "n_langs", "sum_chars", "chars_per_doc", "rk"
        )
    )


@register(
    "agg_range_open_buckets",
    oracle=f"""
SELECT bucket_key,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT n_chars,
         CASE WHEN n_chars < {RANGE_EDGES[0]} THEN '*-{RANGE_EDGES[0]}'
              WHEN n_chars < {RANGE_EDGES[1]}
                THEN '{RANGE_EDGES[0]}-{RANGE_EDGES[1]}'
              WHEN n_chars < {RANGE_EDGES[2]}
                THEN '{RANGE_EDGES[1]}-{RANGE_EDGES[2]}'
              ELSE '{RANGE_EDGES[2]}-*' END AS bucket_key
  FROM documents
) t
GROUP BY bucket_key
""",
)
def agg_range_open_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``range`` aggregation over n_chars with OPEN-ENDED first and
    last buckets (`*-128`, `128-256`, `256-384`, `384-*`) and ES's
    half-open [from, to) convention — the irregular-edge sibling of
    the fixed-interval histogram agg (agg_histogram_empty_buckets):
    edges are explicit, buckets need not be uniform, and the unbounded
    ends catch outliers instead of growing the key range. Bucket keys
    use ES's `from-to` naming.

    Deterministic: integer comparisons and sums only.

    Scale shape: one CASE projection + bucket-grain counts, map-side
    combinable — like the filters agg, the row pins SEMANTICS
    (half-open edges, open ends, key naming), not plan complexity.
    """
    d = load_table(spark, sf_dir, "documents")
    e0, e1, e2 = RANGE_EDGES
    bucket = (
        F.when(F.col("n_chars") < e0, F.lit(f"*-{e0}"))
        .when(F.col("n_chars") < e1, F.lit(f"{e0}-{e1}"))
        .when(F.col("n_chars") < e2, F.lit(f"{e1}-{e2}"))
        .otherwise(F.lit(f"{e2}-*"))
    )
    return (
        d.select(F.col("n_chars"), bucket.alias("bucket_key"))
        .groupBy("bucket_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


# --- intervals, multi_terms, auto_date_histogram, pinned ---------------------

IV_A = "group"
IV_B = "order"
IV_MAX_GAPS = 2  # intervals: ordered, at most this many tokens between
IV_TOPK = 15

MT_TOPN = 8  # multi_terms agg size

ADH_TARGET_BUCKETS = 20  # auto_date_histogram target
# fixed-seconds interval ladder (ES rounds to calendar units; fixed
# units keep the cross-engine arithmetic exact)
ADH_LADDER = (60, 3600, 86400, 604800, 2592000)

PIN_IDS = (7, 13, 21)  # pinned query: promoted ids, in this order
PIN_TERM = "table"
PIN_TOPK = 10


@register(
    "search_intervals_ordered",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, w, i FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents
  ) t WHERE w IN ('{IV_A}', '{IV_B}')
),
iv AS (
  SELECT a.doc_id, b.i - a.i - 1 AS gaps
  FROM pos a JOIN pos b
    ON b.doc_id = a.doc_id AND a.w = '{IV_A}' AND b.w = '{IV_B}'
  WHERE b.i > a.i AND b.i - a.i - 1 <= {IV_MAX_GAPS}
),
docs AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_intervals,
         CAST(MIN(gaps) AS BIGINT) AS min_gaps
  FROM iv GROUP BY doc_id
)
SELECT doc_id, n_intervals, min_gaps, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY n_intervals DESC, min_gaps, doc_id) AS rk
  FROM docs
) t WHERE rk <= {IV_TOPK}
""",
)
def search_intervals_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``intervals`` query, ``match`` rule with ``ordered: true``
    and ``max_gaps: {IV_MAX_GAPS}``: {IV_A!r} followed by {IV_B!r}
    with at most {IV_MAX_GAPS} tokens between them — the ORDERED
    sibling of span_near's unordered slop (order is the semantic
    intervals adds over spans: "group … order" matches, "order …
    group" does not). Per doc: qualifying interval count and the
    tightest gap, ranked.

    Deterministic: all-integer positional arithmetic, total order via
    doc_id.

    Scale shape: identical to the span/phrase family — both terms'
    postings pruned at token grain before the per-doc position join;
    the order predicate (b.i > a.i) just halves the pair mass.
    """
    d = load_table(spark, sf_dir, "documents")
    pos = (
        d.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
        )
        .filter(F.col("w").isin(IV_A, IV_B))
    )
    a = pos.filter(F.col("w") == IV_A).select("doc_id", F.col("i").alias("ia"))
    b = pos.filter(F.col("w") == IV_B).select(
        F.col("doc_id").alias("db"), F.col("i").alias("ib")
    )
    iv = (
        a.join(b, a["doc_id"] == b["db"])
        .select("doc_id", (F.col("ib") - F.col("ia") - 1).alias("gaps"))
        .filter((F.col("gaps") >= 0) & (F.col("gaps") <= IV_MAX_GAPS))
    )
    docs = iv.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.min("gaps").cast("bigint").alias("min_gaps"),
    )
    return (
        ranked_topk(docs, [F.col("n_intervals").desc(), "min_gaps", "doc_id"], IV_TOPK, rk_cast="bigint")
        .select("doc_id", "n_intervals", "min_gaps", "rk")
    )


@register(
    "agg_multi_terms",
    oracle=f"""
WITH buckets AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS doc_count,
         CAST(SUM(doc_id) AS BIGINT) AS id_checksum
  FROM documents GROUP BY source, lang
)
SELECT source, lang, doc_count, id_checksum, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY doc_count DESC, source, lang) AS rk
  FROM buckets
) t WHERE rk <= {MT_TOPN}
""",
)
def agg_multi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``multi_terms`` aggregation: buckets keyed by a COMPOSITE
    term tuple (source, lang) ranked by doc_count and truncated to
    size {MT_TOPN} — the count-ranked sibling of the composite agg
    (search_composite_agg pages the same key space in KEY order;
    multi_terms returns the top buckets by COUNT, which is why it
    cannot paginate and caps its size). Checksums pin membership.

    Deterministic: integer counts/checksums, total order via the key
    tiebreak.

    Scale shape: one aggregation shuffle at composite-bucket grain,
    then a top-N over |buckets| rows. The doc_count ordering is the
    approximate-at-shard-level part in ES (same error story as
    search_terms_agg_shard_error documents); the engine computes it
    exactly.
    """
    d = load_table(spark, sf_dir, "documents")
    buckets = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_count"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )
    return (
        ranked_topk(buckets, [F.col("doc_count").desc(), "source", "lang"], MT_TOPN, rk_cast="bigint")
        .select("source", "lang", "doc_count", "id_checksum", "rk")
    )


@register(
    "agg_auto_date_histogram",
    oracle=f"""
WITH ep AS (
  SELECT date_diff('second', TIMESTAMP '1970-01-01', ts) AS es, value
  FROM events
),
bounds AS (
  SELECT MIN(es) AS lo, MAX(es) AS hi FROM ep
),
chosen AS (
  SELECT CASE
    WHEN hi // {ADH_LADDER[0]} - lo // {ADH_LADDER[0]} + 1
         <= {ADH_TARGET_BUCKETS} THEN {ADH_LADDER[0]}
    WHEN hi // {ADH_LADDER[1]} - lo // {ADH_LADDER[1]} + 1
         <= {ADH_TARGET_BUCKETS} THEN {ADH_LADDER[1]}
    WHEN hi // {ADH_LADDER[2]} - lo // {ADH_LADDER[2]} + 1
         <= {ADH_TARGET_BUCKETS} THEN {ADH_LADDER[2]}
    WHEN hi // {ADH_LADDER[3]} - lo // {ADH_LADDER[3]} + 1
         <= {ADH_TARGET_BUCKETS} THEN {ADH_LADDER[3]}
    ELSE {ADH_LADDER[4]} END AS interval_s
  FROM bounds
)
SELECT CAST(c.interval_s AS BIGINT) AS interval_s,
       CAST(e.es // c.interval_s * c.interval_s AS BIGINT)
         AS bucket_epoch_s,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('e.value')} AS sum_value
FROM ep e CROSS JOIN chosen c
GROUP BY interval_s, bucket_epoch_s
""",
)
def agg_auto_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``auto_date_histogram``: the engine — not the caller — picks
    the bucket interval so the bucket count stays at or under
    ``buckets: {ADH_TARGET_BUCKETS}``, walking a fixed interval ladder
    (minute/hour/day/week/30d here; ES rounds to calendar units —
    fixed-seconds units are used so the cross-engine arithmetic is
    exact integer division). The data-driven interval choice is the
    semantic: the same query over an hour of data returns
    minute-grain buckets, over a month week-grain — this fixture's
    30-day span at target {ADH_TARGET_BUCKETS} selects the week rung.
    The chosen interval is returned with every bucket, as ES does.

    Deterministic: epoch seconds via whole-second timestamp diffs
    (the repo's TIMESTAMP_NTZ idiom), integer floor-division
    bucketing, DECIMAL value sums.

    Scale shape: a 2-value bounds aggregate (map-side min/max)
    broadcast into the bucketing expression, then one bucket-grain
    shuffle — the adaptive choice costs one extra tiny pass, the
    histogram itself is the same plan as the fixed-interval agg.
    """
    e = load_table(spark, sf_dir, "events")
    ep = e.select(
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP'1970-01-01', "
            "CAST(ts AS TIMESTAMP))"
        ).alias("es"),
        "value",
    )
    bounds = ep.agg(F.min("es").alias("lo"), F.max("es").alias("hi"))
    rung = None
    for iv in ADH_LADDER[:-1]:
        cond = (
            F.floor(F.col("hi") / iv) - F.floor(F.col("lo") / iv) + 1
            <= ADH_TARGET_BUCKETS
        )
        rung = (
            F.when(cond, F.lit(iv)) if rung is None else rung.when(cond, F.lit(iv))
        )
    chosen = bounds.select(
        rung.otherwise(F.lit(ADH_LADDER[-1])).cast("bigint").alias("interval_s")
    )
    return (
        ep.crossJoin(F.broadcast(chosen))
        .groupBy(
            "interval_s",
            (
                F.floor(F.col("es") / F.col("interval_s"))
                * F.col("interval_s")
            )
            .cast("bigint")
            .alias("bucket_epoch_s"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "interval_s", "bucket_epoch_s", "n_events", "sum_value"
        )
    )


@register(
    "search_pinned_query",
    oracle=f"""
WITH {_sql_bm25_one_term(PIN_TERM)},
pinned(doc_id, pin_pos) AS (VALUES {", ".join(f"({i}, {p + 1})" for p, i in enumerate(PIN_IDS))}),
organic AS (
  SELECT b.doc_id, b.bm25,
         ROW_NUMBER() OVER (ORDER BY b.bm25 DESC, b.doc_id) AS org_rk
  FROM bm25_{PIN_TERM} b
  WHERE b.doc_id NOT IN (SELECT doc_id FROM pinned)
),
unioned AS (
  SELECT p.doc_id, CAST(1 AS BIGINT) AS pinned,
         CAST(NULL AS DOUBLE) AS score, p.pin_pos AS ord
  FROM pinned p JOIN documents d USING (doc_id)
  UNION ALL
  SELECT doc_id, CAST(0 AS BIGINT), bm25, {len(PIN_IDS)} + org_rk
  FROM organic
)
SELECT doc_id, pinned, score, CAST(rk AS BIGINT) AS rk FROM (
  SELECT doc_id, pinned, score,
         ROW_NUMBER() OVER (ORDER BY ord) AS rk
  FROM unioned
) t WHERE rk <= {PIN_TOPK}
""",
)
def search_pinned_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``pinned`` query: the ids {PIN_IDS!r} are promoted to the
    top of the result list IN LIST ORDER regardless of relevance
    (pinned docs need not match the organic query at all — they are
    joined against the corpus, not the hit list), and organic BM25
    hits for {PIN_TERM!r} follow, excluding any pinned id. ES
    implements this by giving pinned docs synthetic above-everything
    scores; the honest relational statement is the ordered union this
    query pins — pinned rows carry a NULL score to make the synthetic
    ranking explicit rather than fabricating score values.

    Deterministic: pinned order is the literal list position; organic
    order is the quantized-BM25 total order with doc_id tiebreak.

    Scale shape: the pinned list is a literal broadcast joined to the
    corpus by key (index point-lookups in ES); the organic side is
    the standard postings-pruned scored top-k. The union sorts
    |pinned| + top-k rows.
    """
    d = load_table(spark, sf_dir, "documents")
    pinned = spark.createDataFrame(
        [(int(i), p + 1) for p, i in enumerate(PIN_IDS)],
        "doc_id bigint, pin_pos bigint",
    )
    organic = (
        _bm25_agg(spark, sf_dir, (PIN_TERM,))
        .select("doc_id", "bm25")
        .join(F.broadcast(pinned.select("doc_id")), "doc_id", "left_anti")
    )
    # only the top PIN_TOPK organic docs can survive the final cut, so
    # rank them with the partial-top-k helper and derive ord from that
    # rank (identical for every surviving row).
    org = ranked_topk(
        organic, [F.col("bm25").desc(), "doc_id"], PIN_TOPK, rk_col="_r"
    ).select(
        "doc_id",
        F.lit(0).cast("bigint").alias("pinned"),
        F.col("bm25").alias("score"),
        (F.lit(len(PIN_IDS)) + F.col("_r")).alias("ord"),
    )
    pin = (
        pinned.join(d.select("doc_id"), "doc_id")
        .select(
            "doc_id",
            F.lit(1).cast("bigint").alias("pinned"),
            F.lit(None).cast("double").alias("score"),
            F.col("pin_pos").alias("ord"),
        )
    )
    return ranked_topk(
        pin.unionByName(org), ["ord"], PIN_TOPK, rk_cast="bigint"
    ).select("doc_id", "pinned", "score", "rk")


# --- sibling pipeline aggs, explain API, track_total_hits --------------------

SIB_INTERVAL = 86400  # daily buckets for the sibling-pipeline demo

EXP_TERM = "batch"
EXP_TOPK = 5

TTH_TERM = "scan"
TTH_TRACK = 300  # track_total_hits cap


@register(
    "agg_sibling_pipeline",
    oracle=f"""
WITH ep AS (
  SELECT date_diff('second', TIMESTAMP '1970-01-01', ts)
           // {SIB_INTERVAL} AS day_idx,
         value
  FROM events
),
hist AS (
  SELECT day_idx, CAST(COUNT(*) AS BIGINT) AS n_events,
         {sql_dsum('value')} AS sum_value
  FROM ep GROUP BY day_idx
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(n_events) AS BIGINT) AS max_bucket_count,
       CAST(MIN(n_events) AS BIGINT) AS min_bucket_count,
       CAST(CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS DOUBLE)
         AS avg_bucket_count,
       CAST(CAST(SUM(CAST(sum_value AS DECIMAL(18,6))) AS DOUBLE)
            AS DOUBLE) AS sum_bucket_value,
       CAST((SELECT day_idx FROM hist ORDER BY n_events DESC, day_idx
             LIMIT 1) AS BIGINT) AS argmax_day_idx
FROM hist
""",
)
def agg_sibling_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES SIBLING pipeline aggregations — ``max_bucket``,
    ``min_bucket``, ``avg_bucket``, ``sum_bucket`` — over a daily
    histogram: where the PARENT pipeline family
    (agg_date_histogram_pipeline: derivative/cumulative/moving) adds a
    value to EVERY bucket, the sibling family reduces the whole bucket
    list to ONE summary value placed beside it, including max_bucket's
    keys payload (which bucket attained the max — the argmax day).
    Together the two rows cover ES's full pipeline-agg taxonomy.

    Deterministic: integer bucket counts; avg is one double division;
    sum-of-bucket-sums re-quantizes through DECIMAL(18,6) (exact);
    argmax total-ordered by the day tiebreak.

    Scale shape: bucket-grain aggregation then a second reduce over
    |buckets| rows — the second stage is a 1-row all-reduce, free at
    any corpus size.
    """
    e = load_table(spark, sf_dir, "events")
    hist = (
        e.select(
            (
                F.floor(
                    F.expr(
                        "timestampdiff(SECOND, TIMESTAMP'1970-01-01', "
                        "CAST(ts AS TIMESTAMP))"
                    )
                    / SIB_INTERVAL
                )
            )
            .cast("bigint")
            .alias("day_idx"),
            "value",
        )
        .groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )
    wmax = Window.orderBy(F.col("n_events").desc(), "day_idx")
    ranked = hist.withColumn("is_max", F.row_number().over(wmax) == 1)
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("n_events").cast("bigint").alias("max_bucket_count"),
        F.min("n_events").cast("bigint").alias("min_bucket_count"),
        (F.sum("n_events").cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("avg_bucket_count"),
        F.sum(F.col("sum_value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_bucket_value"),
        F.max(F.when(F.col("is_max"), F.col("day_idx")))
        .cast("bigint")
        .alias("argmax_day_idx"),
    )


@register(
    "search_explain_bm25",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dl
),
tf AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE w = '{EXP_TERM}' GROUP BY doc_id
),
dfq AS (SELECT CAST(COUNT(*) AS BIGINT) AS df FROM tf),
expl AS (
  SELECT t.doc_id, t.tf, l.dl, f.df,
         (CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
           / (CAST(f.df AS DOUBLE) + 0.5) AS idf_part,
         (CAST(t.tf AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
           / (CAST(t.tf AS DOUBLE)
              + CAST({BM25_K1!r} AS DOUBLE)
                * (CAST({1.0 - BM25_B!r} AS DOUBLE)
                   + CAST({BM25_B!r} AS DOUBLE)
                     * (CAST(l.dl AS DOUBLE)
                        / (CAST(s.sum_dl AS DOUBLE)
                           / CAST(s.n_docs AS DOUBLE))))) AS tfn_part
  FROM tf t JOIN dl l USING (doc_id)
  CROSS JOIN stats s CROSS JOIN dfq f
)
SELECT doc_id, tf, dl, df, idf_part, tfn_part,
       CAST(CAST(idf_part * tfn_part AS DECIMAL(28,6)) AS DOUBLE)
         AS bm25,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY CAST(CAST(idf_part * tfn_part AS DECIMAL(28,6)) AS DOUBLE)
             DESC, doc_id) AS rk
  FROM expl
) t WHERE rk <= {EXP_TOPK}
""",
)
def search_explain_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_explain`` API for the BM25 family: every factor of the
    score decomposed per hit — raw tf, doc length, df, the idf part
    ((N−df+0.5)/(df+0.5)) and the saturated-tf part (tf·(k1+1)/(tf +
    k1·(1−b+b·dl/avgdl))) — so a ranking dispute is settled by reading
    WHICH factor differs, exactly what the explain endpoint exists
    for. The product re-quantizes through the family's DECIMAL(28,6)
    so the exposed score equals what search_bm25_topk serves.

    Deterministic: integer inputs; both parts are fixed IEEE
    expression trees evaluated in identical order in both engines;
    the final product rides the shared quantization.

    Scale shape: identical to the scoring path (postings-pruned tf
    join + two one-row broadcasts) — explain costs what scoring
    costs, per hit, which is why ES scopes it to single documents;
    here the top-k page is explained in one plan.
    """
    tf_all = _postings_memo(spark, sf_dir)
    dl, stats = _dl_stats_memo(spark, sf_dir)
    tf = tf_all.filter(F.col("w") == EXP_TERM).select("doc_id", "tf")
    dfq = tf.agg(F.count(F.lit(1)).alias("df"))
    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    tfn = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl))
    )
    expl = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfq))
        .select(
            "doc_id",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("dl").cast("bigint").alias("dl"),
            F.col("df").cast("bigint").alias("df"),
            idf.alias("idf_part"),
            tfn.alias("tfn_part"),
            (idf * tfn).cast("decimal(28,6)").cast("double").alias("bm25"),
        )
    )
    return (
        ranked_topk(expl, [F.col("bm25").desc(), "doc_id"], EXP_TOPK, rk_cast="bigint")
        .select(
            "doc_id", "tf", "dl", "df", "idf_part", "tfn_part", "bm25", "rk"
        )
    )


@register(
    "search_track_total_hits",
    oracle=f"""
WITH hits AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) t WHERE w = '{TTH_TERM}'
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM hits)
SELECT CASE WHEN total > {TTH_TRACK} THEN {TTH_TRACK} ELSE total END
         AS total_value,
       CASE WHEN total > {TTH_TRACK} THEN 'gte' ELSE 'eq' END
         AS relation,
       CAST({TTH_TRACK} AS BIGINT) AS track_cap
FROM n
""",
)
def search_track_total_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``track_total_hits: {TTH_TRACK}``: the hits.total CONTRACT —
    counting stops at the cap, and the response says either
    `{{value: N, relation: "eq"}}` (exact, under the cap) or
    `{{value: {TTH_TRACK}, relation: "gte"}}` (at least this many).
    The engine meaning ES optimizes for — early-terminating the count
    so cheap queries stay cheap — is here the semantic CONTRACT row:
    the capped value and relation must be exactly what a
    total-hits-tracking coordinator reports. (A distributed engine
    earns the optimization differently: a LIMIT cap+1 semi-join scan;
    the contract, not the shortcut, is what clients depend on.)

    Deterministic: one integer count, CASE on an integer threshold.

    Scale shape: a distinct-doc count over one term's postings; with
    the cap the scan could early-terminate per partition at cap+1
    (Spark expresses that as LIMIT pushdown on the distinct feed) —
    documented here, measured irrelevant at fixture scale.
    """
    hits = (
        _postings_memo(spark, sf_dir)
        .filter(F.col("w") == TTH_TERM)
        .select("doc_id")
        .distinct()
    )
    n = hits.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return n.select(
        F.when(F.col("total") > TTH_TRACK, F.lit(TTH_TRACK))
        .otherwise(F.col("total"))
        .cast("bigint")
        .alias("total_value"),
        F.when(F.col("total") > TTH_TRACK, F.lit("gte"))
        .otherwise(F.lit("eq"))
        .alias("relation"),
        F.lit(TTH_TRACK).cast("bigint").alias("track_cap"),
    )


# --- script_score, geohash grid, rare_terms, matrix_stats, string_stats,
# t_test: the rest of the ES query and aggregation DSL ---

SSC_TERM = "query"  # same term family as function_score; different script
SSC_K = 128.0  # saturation pivot — power of two
SSC_W = 2.0  # _score weight — power of two: exact multiply
SSC_TOPK = 20


@register(
    "search_script_score",
    oracle=f"""
WITH {{bm25}},
scored AS (
  SELECT b.doc_id, b.bm25,
         CAST(d.n_chars AS DOUBLE)
           / (CAST(d.n_chars AS DOUBLE) + {SSC_K!r}) AS sat,
         {SSC_W!r} * b.bm25
           + CAST(d.n_chars AS DOUBLE)
             / (CAST(d.n_chars AS DOUBLE) + {SSC_K!r}) AS score
  FROM bm25_{SSC_TERM} b JOIN documents d USING (doc_id)
)
SELECT doc_id, bm25, sat, score, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
  FROM scored
) t WHERE rk <= {SSC_TOPK}
""".format(bm25=_sql_bm25_one_term(SSC_TERM)),
)
def search_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``script_score`` query with a deterministic script subset
    (the last mainstream function_score
    sibling): script = ``{SSC_W} * _score + saturation(n_chars,
    {SSC_K})``, i.e. the painless ``saturation(x, k) = x / (x + k)``
    pivot function ES ships for exactly this use, blended with the
    query score. Unlike function_score's fixed boost_mode algebra, a
    script composes arbitrary arithmetic — this is the rank-by-
    formula slot every learned-ranking rollout starts from.

    Deterministic: BM25 rides the family's DECIMAL(28,6)
    quantization; the script is (add, divide, exact power-of-two
    multiply, add) — every op a single correctly-rounded IEEE double
    op on identical inputs in both engines.

    Scale shape: hit-grain join of scored postings to one doc-values
    column, script is a map-side expression, top-k at the end — cost
    tracks hits, not corpus (reference ES sink holds whole docs,
    observer6/ElasticSearchBulkOperator.java:84; the script here
    reads one pruned column).
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = _bm25_agg(spark, sf_dir, (SSC_TERM,)).select("doc_id", "bm25")
    nc = F.col("n_chars").cast("double")
    sat = nc / (nc + F.lit(SSC_K))
    scored = b.join(d, "doc_id").select(
        "doc_id",
        "bm25",
        sat.alias("sat"),
        (F.lit(SSC_W) * F.col("bm25") + sat).alias("score"),
    )
    return (
        ranked_topk(scored, [F.col("score").desc(), "doc_id"], SSC_TOPK, rk_cast="bigint")
        .select("doc_id", "bm25", "sat", "score", "rk")
    )


GH_BITS = 5  # 32x32 grid — precision-5-ish cell granularity
GH_TOPK = 12
GH_WORLD = 100.0  # fixed world bounds [-100, 100] on both axes


def _gh_interleave(xcol: str, ycol: str, intdiv: str) -> str:
    """Bit-interleave two {GH_BITS}-bit cell indices into a Z-order
    (geohash-structure) cell id — pure integer div/mod/multiply-add,
    identical in both dialects (`div` vs `//` is the only difference)."""
    terms = []
    for k in range(GH_BITS):
        terms.append(f"(({xcol} {intdiv} {2**k}) % 2) * {2 ** (2 * k)}")
        terms.append(f"(({ycol} {intdiv} {2**k}) % 2) * {2 ** (2 * k + 1)}")
    return " + ".join(terms)


_GH_IX = (
    "CAST(LEAST(GREATEST(FLOOR((px + {w!r}) / {w2!r} * {n!r}), 0.0),"
    " {top!r}) AS BIGINT)"
).format(w=GH_WORLD, w2=2 * GH_WORLD, n=float(2**GH_BITS), top=float(2**GH_BITS - 1))
_GH_IY = _GH_IX.replace("px", "py")


@register(
    "agg_geohash_grid",
    oracle=f"""
WITH pts AS (
  SELECT CAST(embedding[1] AS DOUBLE) * {GEO_SCALE!r} AS px,
         CAST(embedding[2] AS DOUBLE) * {GEO_SCALE!r} AS py
  FROM embeddings
),
cells AS (
  SELECT px, py, {_GH_IX} AS ix, {_GH_IY} AS iy FROM pts
),
grid AS (
  SELECT CAST({_gh_interleave('ix', 'iy', '//')} AS BIGINT) AS cell_id,
         CAST(COUNT(*) AS BIGINT) AS doc_count,
         CAST(CAST(SUM(CAST(px AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
              AS DOUBLE) AS centroid_x,
         CAST(CAST(SUM(CAST(py AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
              AS DOUBLE) AS centroid_y
  FROM cells GROUP BY 1
)
SELECT cell_id, doc_count, centroid_x, centroid_y, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY doc_count DESC, cell_id) AS rk
  FROM grid
) t WHERE rk <= {GH_TOPK}
""",
)
def agg_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``geohash_grid`` aggregation (next
    to geo_bounds/centroid): quantize each point to a {2**GH_BITS}x
    {2**GH_BITS} grid over fixed world bounds and BIT-INTERLEAVE the
    axis indices into the cell key — the Z-order structure geohash IS
    (base-32 rendering aside) — then return the top-{GH_TOPK} busiest
    cells with their centroids, exactly the payload a map heat-layer
    requests. Fixed world bounds (not data min/max) mirror geohash
    semantics: a cell id means the same place at any corpus size.

    Deterministic: quantization is (add, divide, multiply, floor) —
    identical single-rounded ops both engines — then pure integer
    interleave (div/mod/multiply-add); centroid means ride
    DECIMAL(18,6) sums; count-desc/cell-asc is a total order.

    Scale shape: cell id is a map-side expression; one hash
    aggregation at cell grain (<= 1024 cells at this precision — the
    coordinator-small bucket set ES returns); rank over cells only.
    At a deeper precision the agg stays distributive — doc_count and
    centroid sums combine map-side.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        (F.element_at("embedding", 1).cast("double") * GEO_SCALE).alias("px"),
        (F.element_at("embedding", 2).cast("double") * GEO_SCALE).alias("py"),
    )
    cells = pts.select(
        "px", "py", F.expr(_GH_IX).alias("ix"), F.expr(_GH_IY).alias("iy")
    )
    grid = (
        cells.select(
            "px",
            "py",
            F.expr(_gh_interleave("ix", "iy", "div"))
            .cast("bigint")
            .alias("cell_id"),
        )
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            (
                F.sum(F.col("px").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("centroid_x"),
            (
                F.sum(F.col("py").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("centroid_y"),
        )
    )
    return (
        ranked_topk(grid, [F.col("doc_count").desc(), "cell_id"], GH_TOPK, rk_cast="bigint")
        .select("cell_id", "doc_count", "centroid_x", "centroid_y", "rk")
    )


RT_MAX_DF = 5  # rare_terms max_doc_count (over the bigram keyword field)
RT_SIZE = 30


@register(
    "agg_rare_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS term
  FROM toks
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_count
  FROM big GROUP BY term
)
SELECT term, doc_count, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY doc_count ASC, term) AS rk
  FROM df WHERE doc_count <= {RT_MAX_DF}
) t WHERE rk <= {RT_SIZE}
""",
)
def agg_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rare_terms`` aggregation: the long-tail complement of
    ``terms`` — buckets whose document frequency is at most
    max_doc_count={RT_MAX_DF}, the "what almost never appears" query
    (typo mining, contamination canaries, PII tokens) that a
    descending-count terms agg can never surface. Runs over the
    bigram keyword field (the fixtures' unigram vocab is closed, so
    rarity lives at phrase grain — same place ES users point
    rare_terms at a keyword multi-field). A deterministic
    df-asc/term-asc total order + size={RT_SIZE} cut replaces ES's
    CuckooFilter approximation with the exact answer.

    Scale shape: one token-grain corpus pass builds distinct
    (doc, bigram) pairs; df is a map-side-combinable count per term
    and the rare-side filter keeps the rank window tiny. ES documents
    rare_terms as heavier than terms for exactly this reason — here
    it is the same aggregation shape either way.
    """
    d = load_table(spark, sf_dir, "documents")
    # split(text) once into a column before the transform (the inline
    # form re-ran split() three times per bigram: size + both lambda
    # slots), and spread so the explode doesn't run on the fixture
    # file's single scan split.
    big = (
        spread(d)
        .select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> concat(ws[i], ' ', ws[i + 1]))"
                )
            ).alias("term"),
        )
    )
    df_ = (
        big.groupBy("term")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("doc_count"))
        .filter(F.col("doc_count") <= RT_MAX_DF)
    )
    return (
        ranked_topk(df_, [F.col("doc_count").asc(), "term"], RT_SIZE, rk_cast="bigint")
        .select("term", "doc_count", "rk")
    )


# matrix_stats over three bounded lineitem measures (quantity <= 50,
# discount <= 0.1, tax <= 0.08): products stay <= 2500, so per-operand
# DECIMAL(18,6) casts are exact in both engines (the r4 large-magnitude
# decimal-cast gotcha rules out extendedprice here).
_MS_FIELDS = ("l_quantity", "l_discount", "l_tax")
_MS_SHORT = {"l_quantity": "q", "l_discount": "d", "l_tax": "t"}


def _ms_formulas() -> dict[str, str]:
    """Shared (dialect-identical) formula text over the moment columns
    n, s_<f>, s_<f><g>: population variance/covariance + Pearson
    correlation, written once so both engines execute the exact same
    op sequence."""
    out = {}
    for f in _MS_SHORT.values():
        out[f"mean_{f}"] = f"s_{f} / n"
        out[f"var_{f}"] = f"(s_{f}{f} - s_{f} * s_{f} / n) / n"
    pairs = [("q", "d"), ("q", "t"), ("d", "t")]
    for a, b in pairs:
        cov = f"(s_{a}{b} - s_{a} * s_{b} / n) / n"
        out[f"cov_{a}{b}"] = cov
        out[f"corr_{a}{b}"] = (
            f"({cov}) / sqrt((({out[f'var_{a}']})) * (({out[f'var_{b}']})))"
        )
    return out


@register(
    "agg_matrix_stats",
    oracle=f"""
WITH sums AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {", ".join(
             f"CAST(SUM(CAST({f} AS DECIMAL(18,6))) AS DOUBLE)"
             f" AS s_{_MS_SHORT[f]}" for f in _MS_FIELDS
         )},
         {", ".join(
             f"CAST(SUM(CAST({fa} * {fb} AS DECIMAL(18,6))) AS DOUBLE)"
             f" AS s_{_MS_SHORT[fa]}{_MS_SHORT[fb]}"
             for i, fa in enumerate(_MS_FIELDS)
             for fb in _MS_FIELDS[i:]
         )}
  FROM lineitem
)
SELECT CAST(n AS BIGINT) AS n,
       {", ".join(f"{expr} AS {name}" for name, expr in _ms_formulas().items())}
FROM sums
""",
)
def agg_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``matrix_stats`` aggregation: the multi-field second-moment
    matrix — per-field mean and population variance plus pairwise
    covariance and Pearson correlation over ({", ".join(_MS_FIELDS)})
    — the one ES agg that reads SEVERAL numeric fields jointly (fraud
    / pricing covariance dashboards). One row, twelve moments, exactly
    the payload shape ES returns.

    Deterministic: every raw sum and product-sum rides an exact
    per-operand DECIMAL(18,6) cast (products bounded by 2500, far
    under the 2^53 decimal-cast parity limit), and the variance /
    covariance / correlation formulas are the SAME text in both
    dialects — identical IEEE op sequences on identical inputs.

    Scale shape: textbook algebraic aggregate — 10 map-side-combinable
    sums in ONE pass (no per-pair scans), one 1-row reduce, O(1)
    driver math. ES computes it per shard + combines; this is the
    same partial-aggregation plan.
    """
    # project to the 3 measure columns, then spread: the per-row decimal
    # casts are the whole cost and the single-row-group fixture file
    # would otherwise run them on one core (guide §2.3 project before
    # the exchange + §2.5 input parallelism; the shuffle carries 3
    # narrow columns, the agg itself stays map-side-combinable).
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(*_MS_FIELDS)
    )
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for f in _MS_FIELDS:
        aggs.append(
            F.sum(F.col(f).cast("decimal(18,6)"))
            .cast("double")
            .alias(f"s_{_MS_SHORT[f]}")
        )
    for i, fa in enumerate(_MS_FIELDS):
        for fb in _MS_FIELDS[i:]:
            aggs.append(
                F.sum((F.col(fa) * F.col(fb)).cast("decimal(18,6)"))
                .cast("double")
                .alias(f"s_{_MS_SHORT[fa]}{_MS_SHORT[fb]}")
            )
    sums = li.agg(*aggs)
    cols = [F.col("n").cast("bigint").alias("n")]
    cols += [
        F.expr(expr).alias(name) for name, expr in _ms_formulas().items()
    ]
    return sums.select(*cols)


@register(
    "agg_string_stats",
    oracle="""
WITH base AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MIN(length(text)) AS BIGINT) AS min_len,
         CAST(MAX(length(text)) AS BIGINT) AS max_len,
         CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS avg_len
  FROM documents GROUP BY lang
),
chars AS (
  SELECT lang, unnest(string_split(text, '')) AS ch FROM documents
),
cc AS (
  SELECT lang, ch, CAST(COUNT(*) AS BIGINT) AS c FROM chars GROUP BY lang, ch
),
tot AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
  FROM cc GROUP BY lang
),
ent AS (
  SELECT cc.lang,
         CAST(-SUM(CAST(
           (CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
           * log2(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
         AS DECIMAL(18,6))) AS DOUBLE) AS entropy,
         MAX(n_distinct_chars) AS n_distinct_chars
  FROM cc JOIN tot USING (lang) GROUP BY cc.lang
)
SELECT base.lang, n_docs, min_len, max_len, avg_len,
       CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars, entropy
FROM base JOIN ent ON base.lang = ent.lang
""",
)
def agg_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``string_stats`` aggregation (with show_distribution
    semantics folded into one number): per-lang bucket count,
    min/max/avg text length, distinct-character count, and the
    SHANNON ENTROPY of the character distribution — the signal ES
    ships string_stats for (gibberish/compression-artifact detection
    in text fields; low entropy = repetitive boilerplate, high =
    random noise).

    Deterministic: lengths are integers; the entropy's p·log2(p)
    terms are quantized to DECIMAL(18,6) BEFORE the sum (the PMI
    family's ln trick: cross-engine log ulp differences are ~1e-16,
    six orders below the quantum), so the only order-sensitive sum is
    exact.

    Scale shape: one char-grain corpus pass (linear, map-side
    explode), then all aggregation at (lang, char) grain —
    dictionary-small. The length stats are plain distributive
    aggregates sharing the same shuffle key.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min(F.length("text")).cast("bigint").alias("min_len"),
        F.max(F.length("text")).cast("bigint").alias("max_len"),
        (
            F.sum(F.length("text")).cast("double") / F.count(F.lit(1))
        ).alias("avg_len"),
    )
    cc = (
        d.select("lang", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("lang", "ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = cc.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
    )
    p = F.col("c").cast("double") / F.col("total").cast("double")
    ent = (
        cc.join(tot, "lang")
        .groupBy("lang")
        .agg(
            (-F.sum((p * F.log2(p)).cast("decimal(18,6)")))
            .cast("double")
            .alias("entropy"),
            F.max("n_distinct_chars").cast("bigint").alias(
                "n_distinct_chars"
            ),
        )
    )
    return base.join(ent, "lang").select(
        "lang",
        "n_docs",
        "min_len",
        "max_len",
        "avg_len",
        "n_distinct_chars",
        "entropy",
    )


TT_GROUP_A = "click"
TT_GROUP_B = "view"

# Welch t statistic over the moment columns — one shared formula text
# so both engines run the identical op sequence. Sample variance:
# (ss - s*s/n) / (n - 1); t = (m_a - m_b) / sqrt(v_a/n_a + v_b/n_b).
_TT_VAR = "((ss_{g} - s_{g} * s_{g} / n_{g}) / (n_{g} - 1.0))"
_TT_T = (
    "((s_a / n_a) - (s_b / n_b)) / sqrt("
    + _TT_VAR.format(g="a")
    + " / n_a + "
    + _TT_VAR.format(g="b")
    + " / n_b)"
)


@register(
    "agg_t_test",
    oracle=f"""
WITH sums AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = '{TT_GROUP_A}' THEN 1 ELSE 0 END)
      AS DOUBLE) AS n_a,
    CAST(SUM(CASE WHEN event_type = '{TT_GROUP_B}' THEN 1 ELSE 0 END)
      AS DOUBLE) AS n_b,
    CAST(SUM(CAST(CASE WHEN event_type = '{TT_GROUP_A}' THEN value END
      AS DECIMAL(18,6))) AS DOUBLE) AS s_a,
    CAST(SUM(CAST(CASE WHEN event_type = '{TT_GROUP_B}' THEN value END
      AS DECIMAL(18,6))) AS DOUBLE) AS s_b,
    CAST(SUM(CAST(CASE WHEN event_type = '{TT_GROUP_A}' THEN value * value
      END AS DECIMAL(18,6))) AS DOUBLE) AS ss_a,
    CAST(SUM(CAST(CASE WHEN event_type = '{TT_GROUP_B}' THEN value * value
      END AS DECIMAL(18,6))) AS DOUBLE) AS ss_b
  FROM events
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       s_a / n_a AS mean_a, s_b / n_b AS mean_b,
       {_TT_VAR.format(g="a")} AS var_a,
       {_TT_VAR.format(g="b")} AS var_b,
       {_TT_T} AS t_value
FROM sums
""",
)
def agg_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``t_test`` aggregation (type: heteroscedastic — Welch's
    unpaired t): the statistic between the value metric of
    '{TT_GROUP_A}' and '{TT_GROUP_B}' events, with the per-group
    means/variances returned so the test is auditable. The A/B
    answer every experimentation dashboard asks ES for; the repo's
    permutation/SPRT/DiD battery covers the heavier designs, this is
    the one-shot closed-form member.

    Deterministic: counts are integers; value sums and square sums
    ride exact per-operand DECIMAL(18,6) casts (value <= 491, squares
    <= ~241k — far under the decimal-cast parity limit); the Welch
    formula is one shared text in both dialects.

    Scale shape: six conditional map-side-combinable sums in one
    events pass, one 1-row reduce — the same shard-partial plan ES
    runs. No shuffle beyond the single global aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    is_a = F.col("event_type") == TT_GROUP_A
    is_b = F.col("event_type") == TT_GROUP_B
    v = F.col("value")
    sums = e.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("double").alias("n_a"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast("double").alias("n_b"),
        F.sum(F.when(is_a, v).cast("decimal(18,6)"))
        .cast("double")
        .alias("s_a"),
        F.sum(F.when(is_b, v).cast("decimal(18,6)"))
        .cast("double")
        .alias("s_b"),
        F.sum(F.when(is_a, v * v).cast("decimal(18,6)"))
        .cast("double")
        .alias("ss_a"),
        F.sum(F.when(is_b, v * v).cast("decimal(18,6)"))
        .cast("double")
        .alias("ss_b"),
    )
    return sums.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr("s_a / n_a").alias("mean_a"),
        F.expr("s_b / n_b").alias("mean_b"),
        F.expr(_TT_VAR.format(g="a")).alias("var_a"),
        F.expr(_TT_VAR.format(g="b")).alias("var_b"),
        F.expr(_TT_T).alias("t_value"),
    )


@register(
    "agg_cumulative_cardinality",
    oracle="""
WITH e AS (
  SELECT date_trunc('day', ts) AS day, user_id FROM events
),
hist AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events FROM e GROUP BY day
),
fs AS (
  SELECT user_id, MIN(day) AS fs_day FROM e GROUP BY user_id
),
newu AS (
  SELECT fs_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM fs GROUP BY fs_day
)
SELECT h.day, h.n_events,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY h.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_cardinality
FROM hist h LEFT JOIN newu n ON h.day = n.day
""",
)
def agg_cumulative_cardinality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline aggregation: per daily
    bucket, the running count of DISTINCT users ever seen — the
    "total users to date" curve ES computes by merging per-bucket HLL
    sketches cumulatively. Here the exact distributed form: each
    user's FIRST-SEEN day (one aggregation), new-user counts per day,
    and a running sum over the (tiny) day axis — the incremental-
    distinct idiom that replaces a quadratic per-day COUNT(DISTINCT
    WHERE ts <= day) rescan.

    Deterministic: all integers; the window sum is over the ordered
    day dictionary.

    Scale shape: first-seen is one user-grain aggregation (the same
    shuffle a daily-active rollup pays); everything after runs at day
    grain. The HLL twin for approximate mode lives in sketches.py —
    this is the exact-path complement.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        "user_id",
    )
    hist = e.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    fs = e.groupBy("user_id").agg(F.min("day").alias("fs_day"))
    newu = fs.groupBy(F.col("fs_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    joined = hist.join(newu, "day", "left").select(
        "day",
        "n_events",
        F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.withColumn(
        "cum_cardinality", F.sum("new_users").over(w).cast("bigint")
    )


@register(
    "agg_top_metrics",
    oracle="""
SELECT source,
       doc_id AS top_doc_id,
       CAST(n_chars AS BIGINT) AS top_n_chars,
       lang AS top_lang
FROM (
  SELECT source, doc_id, n_chars, lang,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
) t WHERE rk = 1
""",
)
def agg_top_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``top_metrics`` aggregation: per terms bucket (source), the
    metrics of the single document at the top of a sort (n_chars
    DESC, doc_id tiebreak) — the cheap cousin of top_hits that ES
    ships for "the latest/largest row per key" dashboards, returning
    selected metric fields rather than whole documents.

    Deterministic: the sort has a total order via the doc_id
    tiebreak; all values pass through unchanged.

    Scale shape: the classic argmax-per-key — implemented as a
    per-key rank window (one shuffle at bucket key), which Spark
    executes with partial top-1 pushdown (WindowGroupLimit) so no
    full per-key sort materializes. At 100 TB this is max_by at
    shard grain, the same plan ES runs.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        ranked_topk_per(
            d, ["source"], [F.col("n_chars").desc(), "doc_id"], 1,
            rk_col=None,
        )
        .select(
            "source",
            F.col("doc_id").alias("top_doc_id"),
            F.col("n_chars").cast("bigint").alias("top_n_chars"),
            F.col("lang").alias("top_lang"),
        )
    )


VWH_BUCKETS = 4  # variable_width_histogram target cluster count


@register(
    "agg_variable_width_histogram",
    oracle=f"""
WITH vc AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY n_chars
),
cum AS (
  SELECT v, c,
         CAST(SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
           AS BIGINT) AS cum_before,
         CAST(SUM(c) OVER () AS BIGINT) AS total
  FROM vc
),
bucketed AS (
  SELECT (cum_before * {VWH_BUCKETS}) // total AS bucket, v, c FROM cum
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(MIN(v) AS BIGINT) AS min_v,
       CAST(MAX(v) AS BIGINT) AS max_v,
       CAST(SUM(c) AS BIGINT) AS doc_count,
       CAST(SUM(v * c) AS DOUBLE) / SUM(c) AS avg_v
FROM bucketed GROUP BY bucket
""",
)
def agg_variable_width_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ES ``variable_width_histogram`` aggregation: {VWH_BUCKETS}
    data-adaptive buckets over n_chars whose boundaries follow the
    value distribution (equal-mass clusters) instead of a fixed
    interval — ES clusters greedily and non-deterministically; here
    the deterministic equal-mass form: each DISTINCT value lands in
    bucket ⌊cum_before·k/total⌋ (the integer-rank discrete-boundary
    idiom from the r9 sort-key work — no holistic percentile buffers
    the whole multiset through one reducer), then per-bucket
    min/max/count/avg exactly as ES returns.

    Deterministic: pure integer arithmetic to the bucket cut; the avg
    is an exact bigint sum with one double division.

    Scale shape: one value-grain aggregation (|distinct values| rows),
    a dictionary-size window for the cumulative rank, and a k-bucket
    reduce. Never sorts the corpus; never buffers it on one node.
    """
    d = load_table(spark, sf_dir, "documents")
    vc = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.select(
        "v",
        "c",
        (F.sum("c").over(wcum) - F.col("c")).cast("bigint").alias(
            "cum_before"
        ),
        F.sum("c").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("total"),
    )
    bucketed = cum.select(
        F.expr(f"(cum_before * {VWH_BUCKETS}) div total").alias("bucket"),
        "v",
        "c",
    )
    return bucketed.groupBy("bucket").agg(
        F.min("v").cast("bigint").alias("min_v"),
        F.max("v").cast("bigint").alias("max_v"),
        F.sum("c").cast("bigint").alias("doc_count"),
        (
            F.sum(F.col("v") * F.col("c")).cast("double") / F.sum("c")
        ).alias("avg_v"),
    ).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "min_v",
        "max_v",
        "doc_count",
        "avg_v",
    )


CT_SIG_TOKENS = 3  # categorize_text: leading tokens forming the signature


@register(
    "agg_categorize_text",
    oracle=f"""
WITH sig AS (
  SELECT doc_id,
         array_to_string(
           list_transform(string_split(text, ' ')[1:{CT_SIG_TOKENS}],
                          w -> CASE WHEN regexp_matches(w, '^[0-9]+$')
                                    THEN '#' ELSE w END),
           ' ') AS category
  FROM documents
)
SELECT category,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
FROM sig GROUP BY category
""",
)
def agg_categorize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``categorize_text`` aggregation (the log-categorization
    agg): documents grouped by a TOKEN-PATTERN SIGNATURE — the first
    {CT_SIG_TOKENS} tokens with numeric tokens masked to '#', the
    deterministic core of ES's categorizer (which drops variable
    parts and clusters on the stable token skeleton; its ML-driven
    merging is replaced by the exact skeleton so both engines agree).
    Per category: count and the smallest doc id as the example ES
    attaches to each bucket.

    Deterministic: pure string/regex transforms identical in both
    dialects; min() example selection is a total order.

    Scale shape: signature is a map-side expression (prefix of the
    token array — no full tokenization needed at scale); one hash
    aggregation at category grain. The 100 TB log-triage pattern:
    billions of lines, thousands of categories.
    """
    d = load_table(spark, sf_dir, "documents")
    sig = d.select(
        "doc_id",
        F.expr(
            "array_join(transform("
            f"slice(split(text, ' '), 1, {CT_SIG_TOKENS}),"
            " w -> CASE WHEN w RLIKE '^[0-9]+$' THEN '#' ELSE w END),"
            " ' ')"
        ).alias("category"),
    )
    return sig.groupBy("category").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_count"),
        F.min("doc_id").cast("bigint").alias("example_doc_id"),
    )


GL_POINTS = 10  # geo_line: first points kept per track


@register(
    "agg_geo_line",
    oracle=f"""
WITH pts AS (
  SELECT label, vec_id,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * {GEO_SCALE!r} * 1000.0)
              AS BIGINT) AS qx,
         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * {GEO_SCALE!r} * 1000.0)
              AS BIGINT) AS qy,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rk
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       string_agg(CAST(qx AS VARCHAR) || ',' || CAST(qy AS VARCHAR),
                  '|' ORDER BY vec_id) AS line
FROM pts WHERE rk <= {GL_POINTS}
GROUP BY label
""",
)
def agg_geo_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``geo_line`` aggregation: per bucket (label), the track —
    points joined in sort order (vec_id standing in for the
    timestamp) truncated to size={GL_POINTS}, serialized as a
    LineString-style coordinate list. Coordinates are quantized to
    integer milli-units BEFORE serialization so the string is
    engine-portable (float formatting differs across engines; a
    milli-unit integer does not — and matches the ~0.1 m precision a
    real geo_line cares about).

    Deterministic: the per-track rank and the join order share the
    vec_id total order; quantization is floor-of-double, identical
    single ops.

    Scale shape: per-key rank window with partial top-k pushdown
    (WindowGroupLimit) — only {GL_POINTS} points per track survive to
    the serialize step, the same size cap ES enforces to bound
    coordinator memory.
    """
    e = load_table(spark, sf_dir, "embeddings")
    qx = F.expr(
        f"CAST(FLOOR(CAST(element_at(embedding, 1) AS DOUBLE)"
        f" * {GEO_SCALE!r} * 1000.0) AS BIGINT)"
    )
    qy = F.expr(
        f"CAST(FLOOR(CAST(element_at(embedding, 2) AS DOUBLE)"
        f" * {GEO_SCALE!r} * 1000.0) AS BIGINT)"
    )
    pts = ranked_topk_per(
        e.select(
            F.col("label").cast("bigint").alias("label"),
            "vec_id",
            qx.alias("qx"),
            qy.alias("qy"),
        ),
        ["label"], ["vec_id"], GL_POINTS,
    )
    return pts.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(vec_id, concat(CAST(qx AS STRING), ',',"
            " CAST(qy AS STRING))))), x -> x.col2), '|')"
        ).alias("line"),
    )
