"""Generate a 10x documents/embeddings fixture for the scale rehearsal.

The scale rehearsal gives empirical evidence that the LSH /
CC / ANN plans follow their claimed complexity curves, not just plan
shape. /root/testdata is read-only, so this writes a statistically
matched 10x set (50k docs, 20k embeddings vs sf0.1's 5k/2k) under
<repo>/.scale10/ (gitignored; regenerate with `python
tools/gen_scale10.py`). Deterministic: numpy seed 42.

Shape mirrored from sf0.1 (inspected, not copied): 10-100 words per
doc, 5 langs (en double-weighted), 20 sources, ~10% near-dup docs
(perturbed copies of earlier docs — same mechanism that gives the real
fixture its duplicate clusters), embeddings dim 64, unit-norm, 10
Gaussian clusters keyed by label. One deliberate divergence: the
vocabulary is scaled ~10x (310 words vs 31) because real corpora grow
vocabulary with size (Heaps' law); keeping the 31-word vocab at 50k
docs makes every 3-shingle bucket ~10x hotter than anything the
operators would see on real data, and the hot-bucket caps then dominate
the measurement instead of the intended O(n) candidate scaling.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale10")
N_DOCS = 50_000
N_VECS = 20_000
DIM = 64
N_LABELS = 10
_BASE_WORDS = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "shuffle", "index", "page", "cache",
]
VOCAB = _BASE_WORDS + [
    f"{w}{i}" for i in range(9) for w in _BASE_WORDS
]  # 310 words: vocabulary grows with corpus size (Heaps' law)
LANGS = ["en", "en", "zh", "es", "fr", "de"]  # en double-weighted
DUP_FRAC = 0.10


def gen_documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if texts and rng.random() < DUP_FRAC:
            # near-dup: perturb a random earlier doc (drop + substitute)
            words = texts[rng.integers(0, len(texts))].split(" ")
            words = [
                w for w in words if rng.random() > 0.03
            ]  # ~3% deletions
            for j in range(len(words)):
                if rng.random() < 0.02:  # ~2% substitutions
                    words[j] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 101))
            texts.append(
                " ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n))
            )
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


def gen_events(rng: np.random.Generator) -> pa.Table:
    # 10x sf0.1's events (1M vs 100k) over the SAME 30-day span — rate
    # grows, horizon doesn't, mirroring a hotter production stream. ts
    # is event-time-ordered like the real fixture; arrival disorder is
    # injected deterministically by the watermark-audit query itself.
    n = 1_000_000
    base_us = np.int64(1_704_067_200_000_000)  # 2024-01-01T00:00:00Z
    span_us = np.int64(30 * 86_400 * 1_000_000)
    offs = np.sort(rng.integers(0, span_us, n))
    types = np.array(["view", "click", "cart", "purchase", "refund"])
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(base_us + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(types[rng.integers(0, 5, n)], pa.string()),
            "value": pa.array(rng.random(n) * 100.0, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )


def main() -> None:
    os.makedirs(SCALE_DIR, exist_ok=True)
    rng = np.random.default_rng(42)
    docs = gen_documents(rng)
    # multiple row groups -> multiple Spark input splits at read time
    pq.write_table(
        docs, os.path.join(SCALE_DIR, "documents.parquet"), row_group_size=5000
    )
    embs = gen_embeddings(rng)
    pq.write_table(
        embs, os.path.join(SCALE_DIR, "embeddings.parquet"), row_group_size=2000
    )
    evs = gen_events(rng)
    pq.write_table(
        evs, os.path.join(SCALE_DIR, "events.parquet"), row_group_size=100_000
    )
    print(
        f"wrote {docs.num_rows} docs, {embs.num_rows} embeddings, "
        f"{evs.num_rows} events -> {SCALE_DIR}"
    )


if __name__ == "__main__":
    main()
