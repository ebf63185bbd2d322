"""Seeded input generators for the benchmark.

Everything the program under test reads is generated here from a seed,
with numpy and pyarrow only, so the inputs never depend on the code being
measured:

- changefeed tables in the `CHANGEFEED_SCHEMA` columns. The backfill and
  search feeds are laid out as files by the program's own
  `sources.changefeed.write_changefeed_stream_dir` (see `workloads.py`);
- the live-tail generator, run as its own process (`python3
  perfbench/feeds.py tail ...`) so its schedule never slows when the
  replicator does. It writes each file itself, with pyarrow, because an
  open-loop writer must not wait on the Spark session it is measuring;
- an sf0.1-shaped table dir (`documents`, `embeddings`, `lineitem`) for
  the analytics workload.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FEED_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("rowkey", pa.string()),
        ("family", pa.string()),
        ("qualifier", pa.string()),
        ("value", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

QUALIFIERS = ("c0", "c1", "c2", "c3", "c4")
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, workload part, ...)."""
    return np.random.default_rng([seed, *stream])


def backlog_batch(
    rng: np.random.Generator,
    n: int,
    seq0: int,
    key_space: int,
    seen: list[str],
    ts0_us: int,
) -> pa.Table:
    """`n` catch-up mutations over a large, mostly-distinct key space.

    About 1 in 8 rows is a delete of an already-written key, about 1 in 4
    puts carries a `ts` up to 5 s older than its neighbours (out of order),
    and about 1 in 16 puts is a same-ts write of the same qualifier in a
    second family (the two-family collision the sink breaks by family).
    """
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    keys = rng.integers(0, key_space, n)
    is_del = rng.random(n) < 1 / 8
    late = rng.random(n) < 1 / 4
    ts = ts0_us + seq * 1000 - np.where(late, rng.integers(0, 5_000_000, n), 0)
    qual = rng.integers(0, len(QUALIFIERS), n)
    vals = rng.integers(0, 1_000_000, n)
    collide = (~is_del) & (rng.random(n) < 1 / 16)
    rows: dict[str, list] = {c: [] for c in FEED_SCHEMA.names}
    for i in range(n):
        if is_del[i] and seen:
            rk = seen[int(vals[i]) % len(seen)]
            _append(rows, seq[i], "delete", rk, None, None, None, ts[i])
            continue
        rk = f"k{keys[i]:09d}"
        seen.append(rk)
        q = QUALIFIERS[qual[i]]
        fam = "fb" if collide[i] else "fa"
        _append(rows, seq[i], "put", rk, fam, q, f"v{vals[i]}", ts[i])
    # the collision partner shares (rowkey, qualifier, ts), lower family
    for i in np.flatnonzero(collide):
        rk = f"k{keys[i]:09d}"
        q = QUALIFIERS[qual[i]]
        _append(rows, -1, "put", rk, "fa", q, f"w{vals[i]}", ts[i])
    n_extra = len(rows["seq"]) - n
    rows["seq"][n:] = list(range(seq0 + n, seq0 + n + n_extra))
    return pa.table(rows, schema=FEED_SCHEMA)


def hot_batch(
    rng: np.random.Generator, n: int, seq0: int, n_keys: int, stamp_us: int
) -> pa.Table:
    """`n` steady-state mutations over a small Zipf-hot key set, every row
    stamped with its creation time (`ts` = `stamp_us`). Keys repeat within
    a file, so an epoch collapses to far fewer cells than it has rows."""
    ranks = np.minimum(rng.zipf(1.3, n), n_keys) - 1
    is_del = rng.random(n) < 1 / 8
    qual = rng.integers(0, len(QUALIFIERS), n)
    vals = rng.integers(0, 1_000_000, n)
    rows: dict[str, list] = {c: [] for c in FEED_SCHEMA.names}
    for i in range(n):
        rk = f"h{ranks[i]:06d}"
        if is_del[i]:
            _append(rows, seq0 + i, "delete", rk, None, None, None, stamp_us)
        else:
            q = QUALIFIERS[qual[i]]
            _append(rows, seq0 + i, "put", rk, "fa", q, f"v{vals[i]}", stamp_us)
    return pa.table(rows, schema=FEED_SCHEMA)


def search_batch(
    rng: np.random.Generator, n_docs: int, seq0: int
) -> pa.Table:
    """One put per (doc, field) for `n_docs` documents, then updates and
    deletes of a tenth of them: the index the search workload queries."""
    langs = np.array(["en", "de", "fr", "zh", "es"])
    sources = np.array([f"src{i}" for i in range(8)])
    words = np.array(
        "spark stream table merge index query shard bulk delete update "
        "hbase region column family value search term range agg doc".split()
    )
    rows: dict[str, list] = {c: [] for c in FEED_SCHEMA.names}
    seq = seq0
    for d in range(n_docs):
        rk = f"{d}"
        fields = {
            "lang": str(rng.choice(langs)),
            "source": str(rng.choice(sources)),
            "price": str(int(rng.integers(0, 1000))),
            "qty": str(int(rng.integers(1, 50))),
            "text": " ".join(rng.choice(words, int(rng.integers(3, 12)))),
        }
        for q, v in fields.items():
            _append(rows, seq, "put", rk, "fa", q, v, BASE_TS_US + seq * 1000)
            seq += 1
    for d in rng.choice(n_docs, n_docs // 10, replace=False):
        rk = f"{d}"
        if rng.random() < 0.5:
            _append(rows, seq, "delete", rk, None, None, None, BASE_TS_US + seq * 1000)
        else:
            v = str(int(rng.integers(0, 1000)))
            _append(rows, seq, "put", rk, "fb", "price", v, BASE_TS_US + seq * 1000)
        seq += 1
    return pa.table(rows, schema=FEED_SCHEMA)


def _append(rows, seq, op, rk, fam, q, v, ts_us) -> None:
    rows["seq"].append(int(seq))
    rows["op"].append(op)
    rows["rowkey"].append(rk)
    rows["family"].append(fam)
    rows["qualifier"].append(q)
    rows["value"].append(v)
    rows["ts"].append(int(ts_us))


def write_feed_file(table: pa.Table, feed_dir: str, index: int, mtime: float) -> int:
    """Write one live-tail feed file atomically (temp name, then rename:
    the file source skips `_`/`.` names, so it never reads a partial
    file). Returns its size in bytes."""
    os.makedirs(feed_dir, exist_ok=True)
    tmp = os.path.join(feed_dir, f"_{index:05d}.parquet.tmp")
    dst = os.path.join(feed_dir, f"{index:05d}.parquet")
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, dst)
    return os.path.getsize(dst)


def backlog_table(seed: int, round_no: int, n_files: int, rows_per_file: int) -> pa.Table:
    """A whole catch-up changefeed for one backfill round: `n_files`
    batches of `rows_per_file` mutations plus their same-ts partners, in
    seq order."""
    rng = rng_for(seed, 1, round_no)
    seen: list[str] = []
    key_space = 8 * n_files * rows_per_file
    parts, seq = [], 0
    for _ in range(n_files):
        tb = backlog_batch(rng, rows_per_file, seq, key_space, seen, BASE_TS_US)
        seq += tb.num_rows
        parts.append(tb)
    return pa.concat_tables(parts)


# -- analytics tables ---------------------------------------------------------

_VOCAB = np.array(
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector index shard bulk delete update region family search term range "
    "doc join plan cache state commit epoch".split()
)


def write_analytics_tables(
    seed: int, sf_dir: str, n_docs: int, n_vecs: int, n_lines: int
) -> int:
    """documents / embeddings / lineitem in the fixture shape: the same
    column names and types as the sf0.x tables, and at sf0.1 sizes the
    same row counts and key cardinalities (5 langs, 20 sources, 10..100
    words a document, 64-dim embeddings in 10 clusters, about 4 lines an
    order, 20,000 parts, 1,000 suppliers). A fifth of the documents are
    near-copies of an earlier one, so the dedup families find pairs."""
    rng = rng_for(seed, 4)
    os.makedirs(sf_dir, exist_ok=True)
    texts: list[str] = []
    for d in range(n_docs):
        if d >= 10 and rng.random() < 0.2:
            toks = texts[int(rng.integers(0, d))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_VOCAB))
        else:
            toks = list(rng.choice(_VOCAB, int(rng.integers(10, 101))))
        texts.append(" ".join(toks))
    langs = rng.choice(["en", "zh", "de", "fr", "es"], n_docs,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": [str(x) for x in langs],
            "source": [f"src{int(x)}" for x in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0, 0.15, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.08, (n_vecs, 64))).astype(np.float32)
    vecs = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    n = n_lines
    ship = BASE_TS_US + rng.integers(0, 7 * 365, n) * 86_400_000_000
    lines = pa.table(
        {
            "l_orderkey": pa.array(np.sort(rng.integers(1, n // 4 + 2, n))),
            "l_partkey": pa.array(rng.integers(1, 20_001, n)),
            "l_suppkey": pa.array(rng.integers(1, 1_001, n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 50000, n), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    total = 0
    for name, tb in (("documents", docs), ("embeddings", vecs), ("lineitem", lines)):
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(tb, path)
        total += os.path.getsize(path)
    return total


# -- live-tail generator process ------------------------------------------------


def run_tail_generator(
    seed: int,
    feed_dir: str,
    log_path: str,
    n_files: int,
    period_s: float,
    rows_per_file: int,
    n_keys: int,
    start_at: float,
) -> None:
    """Open loop: file i is due at `start_at + i * period_s` whatever the
    replicator is doing. Each file's rows are stamped with the wall time
    they were created; one JSON line per file goes to `log_path`."""
    rng = rng_for(seed, 2)
    seq = 0
    with open(log_path, "w") as log:
        for i in range(n_files):
            due = start_at + i * period_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            stamp = time.time()
            tb = hot_batch(rng, rows_per_file, seq, n_keys, int(stamp * 1e6))
            seq += tb.num_rows
            size = write_feed_file(tb, feed_dir, i, stamp)
            written = time.time()
            log.write(
                json.dumps(
                    {
                        "file": f"{i:05d}.parquet",
                        "due": due,
                        "stamp": stamp,
                        "written": written,
                        "bytes": size,
                        "rows": tb.num_rows,
                    }
                )
                + "\n"
            )
            log.flush()


if __name__ == "__main__":
    if len(sys.argv) != 10 or sys.argv[1] != "tail":
        sys.exit(
            "usage: feeds.py tail SEED FEED_DIR LOG N_FILES PERIOD_S "
            "ROWS_PER_FILE N_KEYS START_AT"
        )
    a = sys.argv[2:]
    run_tail_generator(
        int(a[0]), a[1], a[2], int(a[3]), float(a[4]), int(a[5]), int(a[6]),
        float(a[7]),
    )
