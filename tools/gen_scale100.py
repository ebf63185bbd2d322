"""Generate a 100x documents/embeddings fixture for the 100x spot
rehearsal.

The 10x rehearsal (tools/gen_scale10.py + tools/scale_rehearsal.py)
gives one decade of scaling evidence; the brief's bar is "survives a
100x scale-up", so the three scale-anchor families (dedup verify,
winnowing, IVF-PQ) get a second decade: 500k docs / 200k embeddings
under <repo>/.scale100/ (gitignored). Only the tables those families
read are generated — this is a spot rehearsal, not a full fixture.

Same statistical shape as gen_scale10 (which mirrors sf0.1): 10-100
words per doc, ~10% near-dup perturbed copies, vocabulary grown with
corpus size per Heaps' law (31 -> 310 -> 3100 words: keeping a small
vocab at 500k docs would make every shingle bucket ~100x hotter than
real data and the hot-bucket caps would dominate the measurement),
embeddings dim 64, unit-norm, 10 Gaussian clusters. Deterministic:
numpy seed 43 (distinct corpus from the 10x set, same family).

Usage: python tools/gen_scale100.py   (~1-2 min, ~300 MB)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale100"
)
N_DOCS = 500_000
N_VECS = 200_000
DIM = 64
N_LABELS = 10
_BASE_WORDS = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "shuffle", "index", "page", "cache",
]
VOCAB = _BASE_WORDS + [
    f"{w}{i}" for i in range(99) for w in _BASE_WORDS
]  # 3100 words: vocabulary grows with corpus size (Heaps' law)
LANGS = ["en", "en", "zh", "es", "fr", "de"]
DUP_FRAC = 0.10


def gen_documents(rng: np.random.Generator) -> pa.Table:
    lens = rng.integers(10, 101, N_DOCS)
    # pre-draw the fresh-doc word stream in one vectorized call
    word_ids = rng.integers(0, len(VOCAB), int(lens.sum()))
    dup_roll = rng.random(N_DOCS)
    texts: list[str] = []
    cursor = 0
    for i in range(N_DOCS):
        n = int(lens[i])
        if texts and dup_roll[i] < DUP_FRAC:
            words = texts[int(rng.integers(0, len(texts)))].split(" ")
            keep = rng.random(len(words)) > 0.03  # ~3% deletions
            words = [w for w, k in zip(words, keep) if k]
            subs = rng.random(len(words)) < 0.02  # ~2% substitutions
            for j in np.flatnonzero(subs):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(
                " ".join(VOCAB[k] for k in word_ids[cursor : cursor + n])
            )
        cursor += n
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)]
    sources = [f"src{i}" for i in rng.integers(0, 20, N_DOCS)]
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, N_VECS)
    vecs = centers[labels] + 0.35 * rng.normal(size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def main() -> None:
    os.makedirs(SCALE_DIR, exist_ok=True)
    rng = np.random.default_rng(43)
    docs = gen_documents(rng)
    pq.write_table(
        docs,
        os.path.join(SCALE_DIR, "documents.parquet"),
        row_group_size=25_000,
    )
    embs = gen_embeddings(rng)
    pq.write_table(
        embs,
        os.path.join(SCALE_DIR, "embeddings.parquet"),
        row_group_size=10_000,
    )
    print(f"wrote {docs.num_rows} docs, {embs.num_rows} embeddings -> {SCALE_DIR}")


if __name__ == "__main__":
    main()
