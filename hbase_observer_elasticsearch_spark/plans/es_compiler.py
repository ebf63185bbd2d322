"""ES ``_search`` request compiler: JSON query DSL → Spark DataFrame plan.

The reference replicates HBase rows INTO Elasticsearch
(`observer6/ElasticSearchBulkOperator.java:84`) precisely so users can run
ES ``_search`` requests over the replicated documents.  The registered
query surface (waves 1-8) re-implements each DSL shape by hand; this
module closes the loop for the MIGRATION story: take the user's actual
``_search`` JSON and compile it into a Catalyst plan — no hand porting.

Scope (filter context + agg tree — the deterministic core):

- query clauses: ``match_all``, ``term``, ``terms``, ``ids``, ``range``,
  ``prefix``, ``wildcard``, ``exists``, ``match`` (analyzed, operator
  and/or), and ``bool`` (must / filter / should with
  ``minimum_should_match`` / must_not), arbitrarily nested;
- one bucket agg (``terms`` with ``size``, or ``histogram`` with
  ``interval``) with any number of metric sub-aggs (``sum`` / ``avg`` /
  ``min`` / ``max`` / ``value_count`` / ``cardinality``).

Scoring clauses are out of compiler scope by design — relevance queries
are served by the hand-tuned wave-2..8 operators (BM25 family); ES itself
treats filter context as score-free, so compiled output is
constant-score, ordered by the ``_doc``-like stable sort (doc_id).

Analyzed-field semantics: ``text`` is whitespace-analyzed (the fixture's
analyzer), so term-level clauses against it test token membership, while
keyword/numeric fields compare whole values — mirroring ES's
text-vs-keyword mapping split.

Everything compiles to built-in JVM expressions (array_contains / exists
/ rlike / comparisons) — zero Python in the data path, full predicate
pushdown for the non-analyzed fields (Catalyst pushes the numeric/keyword
conjuncts into the parquet scan; token predicates evaluate post-scan,
exactly like ES's inverted-index-vs-doc-values split).

ES null semantics are honored: a ``must_not`` over a field that is NULL
keeps the document (the inner clause "does not match"), which requires
null-collapsing each negated/counted clause to FALSE before combining —
Spark's three-valued NOT would otherwise drop those rows.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ranking import ranked_topk

# Fields analyzed as whitespace-token text (membership semantics);
# everything else is keyword/numeric (whole-value semantics).
TEXT_FIELDS = frozenset({"text"})

_METRICS = ("sum", "avg", "min", "max", "value_count", "cardinality")


def _one(d: dict) -> tuple[str, object]:
    if not isinstance(d, dict) or len(d) != 1:
        raise ValueError(f"expected a single-key object, got {d!r}")
    return next(iter(d.items()))


def _as_list(x) -> list:
    return x if isinstance(x, list) else [x]


def _value(v):
    """ES allows {"value": v, ...} envelopes on term-level queries."""
    return v["value"] if isinstance(v, dict) else v


def _nn(pred: Column) -> Column:
    """Null-collapse: ES clauses either match or don't — fold SQL
    UNKNOWN to FALSE so NOT / should-counting behave like ES."""
    return F.coalesce(pred, F.lit(False))


def _wildcard_regex(pattern: str) -> str:
    """ES wildcard → anchored regex: * = any run, ? = any one char."""
    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(re.escape(ch))
    return "^" + "".join(parts) + "$"


def compile_query(q: dict) -> Column:
    """Compile an ES query-DSL object (filter context) to a boolean
    Column."""
    kind, body = _one(q)

    if kind == "match_all":
        return F.lit(True)

    if kind == "ids":
        vals = [int(v) for v in body["values"]]
        return F.col("doc_id").isin(*vals)

    if kind == "exists":
        return F.col(body["field"]).isNotNull()

    if kind == "bool":
        # Null-collapsing note: AND/OR of raw predicates already treat
        # SQL UNKNOWN like "no match" (the row is dropped either way),
        # and raw conjuncts stay pushdown-translatable — a
        # coalesce-wrapped one reaches the parquet scan as nothing.
        # Only NOT (must_not) and the minimum_should_match counter
        # diverge from ES semantics on UNKNOWN, so only those collapse.
        parts: list[Column] = []
        for clause in _as_list(body.get("must", [])) + _as_list(
            body.get("filter", [])
        ):
            parts.append(compile_query(clause))
        for clause in _as_list(body.get("must_not", [])):
            parts.append(~_nn(compile_query(clause)))
        should = [compile_query(c) for c in _as_list(body.get("should", []))]
        if should:
            msm = int(body.get("minimum_should_match", 1))
            if msm <= 1:
                parts.append(reduce(lambda a, b: a | b, should))
            else:
                cnt = reduce(
                    lambda a, b: a + b,
                    [_nn(c).cast("int") for c in should],
                )
                parts.append(cnt >= msm)
        if not parts:
            return F.lit(True)
        return reduce(lambda a, b: a & b, parts)

    if kind == "match":
        f, spec = _one(body)
        query = spec["query"] if isinstance(spec, dict) else spec
        op = (
            spec.get("operator", "or") if isinstance(spec, dict) else "or"
        ).lower()
        toks = str(query).split()
        if f in TEXT_FIELDS:
            preds = [
                F.array_contains(F.split(F.col(f), " "), t) for t in toks
            ]
        else:
            preds = [F.col(f) == F.lit(t) for t in toks]
        comb = (
            (lambda a, b: a & b) if op == "and" else (lambda a, b: a | b)
        )
        return reduce(comb, preds)

    # remaining kinds address exactly one field
    f, raw = _one(body)
    col = F.col(f)

    if kind == "term":
        v = _value(raw)
        if f in TEXT_FIELDS:
            return F.array_contains(F.split(col, " "), v)
        return col == F.lit(v)

    if kind == "terms":
        vals = list(raw)
        if f in TEXT_FIELDS:
            return F.arrays_overlap(
                F.split(col, " "), F.array(*[F.lit(v) for v in vals])
            )
        return col.isin(*vals)

    if kind == "range":
        ops = {
            "gte": lambda c, v: c >= v,
            "gt": lambda c, v: c > v,
            "lte": lambda c, v: c <= v,
            "lt": lambda c, v: c < v,
        }
        preds = [ops[op](col, v) for op, v in raw.items()]
        if not preds:
            raise ValueError(f"empty range bounds for field {f!r}")
        return reduce(lambda a, b: a & b, preds)

    if kind == "prefix":
        v = _value(raw)
        if f in TEXT_FIELDS:
            return F.exists(
                F.split(col, " "), lambda w: w.startswith(v)
            )
        return col.startswith(v)

    if kind == "wildcard":
        v = _value(raw)
        rx = _wildcard_regex(str(v))
        if f in TEXT_FIELDS:
            return F.exists(F.split(col, " "), lambda w: w.rlike(rx))
        return col.rlike(rx)

    raise ValueError(f"unsupported query kind {kind!r}")


def _metric_col(df: DataFrame, agg_name: str, kind: str, field: str) -> Column:
    dtype = dict(df.dtypes).get(field)
    if dtype is None:
        raise ValueError(f"unknown field {field!r}")
    col = F.col(field)
    is_float = dtype in ("double", "float")
    if kind == "sum":
        # registry determinism rule 1: float sums ride exact decimals
        if is_float:
            return (
                F.sum(col.cast("decimal(18,6)")).cast("double").alias(agg_name)
            )
        return F.sum(col).cast("bigint").alias(agg_name)
    if kind == "avg":
        num = (
            F.sum(col.cast("decimal(18,6)")) if is_float else F.sum(col)
        ).cast("double")
        return (num / F.count(col).cast("double")).alias(agg_name)
    if kind == "min":
        return F.min(col).alias(agg_name)
    if kind == "max":
        return F.max(col).alias(agg_name)
    if kind == "value_count":
        return F.count(col).cast("bigint").alias(agg_name)
    if kind == "cardinality":
        # exact distinct; ES approximates with HLL++ — the sketch family
        # (agg_approx_distinct) carries that tradeoff explicitly
        return F.countDistinct(col).cast("bigint").alias(agg_name)
    raise ValueError(f"unsupported metric {kind!r}")


def compile_aggs(df: DataFrame, aggs: dict) -> DataFrame:
    """Compile a one-level ES agg tree: a single bucket agg (terms /
    histogram) with metric sub-aggs, over the (already query-filtered)
    DataFrame.  Output: one row per bucket — ``key``, ``doc_count``,
    then one column per metric sub-agg, buckets in ES order (terms:
    doc_count desc then key; histogram: key asc)."""
    name, spec = _one(aggs)
    sub = spec.get("aggs", {})
    metrics = []
    for sub_name, sub_spec in sub.items():
        kind, mbody = _one(sub_spec)
        if kind not in _METRICS:
            raise ValueError(f"unsupported metric {kind!r}")
        metrics.append(_metric_col(df, sub_name, kind, mbody["field"]))
    if "terms" in spec:
        t = spec["terms"]
        keyed = df.groupBy(F.col(t["field"]).alias("key"))
        out = keyed.agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"), *metrics
        )
        size = int(t.get("size", 10))
        return (
            out.orderBy(F.col("doc_count").desc(), "key")
            .limit(size)
            .select("key", "doc_count", *sub.keys())
        )
    if "histogram" in spec:
        h = spec["histogram"]
        interval = int(h["interval"])
        key = (
            F.floor(F.col(h["field"]) / F.lit(interval)) * F.lit(interval)
        ).cast("bigint")
        out = df.groupBy(key.alias("key")).agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"), *metrics
        )
        return out.orderBy("key").select("key", "doc_count", *sub.keys())
    raise ValueError(f"unsupported bucket agg in {name!r}")


def compile_search(df: DataFrame, request: dict) -> DataFrame:
    """Compile a full ``_search`` request over ``df``.

    - with ``aggs``: returns the flattened bucket table;
    - without: returns the constant-score hit page — the first ``size``
      documents in stable ``doc_id`` order with a ``total_hits`` column
      (``track_total_hits: true`` semantics) and the hit rank.
    """
    q = request.get("query", {"match_all": {}})
    filtered = df.filter(compile_query(q))
    if "aggs" in request:
        return compile_aggs(filtered, request["aggs"])
    size = int(request.get("size", 10))
    tot = filtered.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_hits")
    )
    return ranked_topk(
        filtered.crossJoin(F.broadcast(tot)), ["doc_id"], size,
        rk_cast="bigint",
    )
