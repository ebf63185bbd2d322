"""Changefeed source: the engine's stand-in for the reference's mutation
hooks (postPut/postDelete, observer6/HbaseDataSyncEsObserver.java:83,126).

A changefeed record is one cell mutation (FIXTURES.md §2):
(seq, op, rowkey, family, qualifier, value, ts).  In production this would
be a Kafka topic or an HBase WAL tail; here it is (a) a deterministic
synthetic fixture covering every semantic corner the reference implies, and
(b) a derivation from the `events` fixture table for volume tests.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..memos import Memo

CHANGEFEED_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("rowkey", T.StringType(), False),
        T.StructField("family", T.StringType(), True),
        T.StructField("qualifier", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, second)


# Covers (FIXTURES.md §2): upsert-then-update partial merge, delete-then-
# reinsert, same-qualifier-two-families collision, out-of-order ts within a
# key, puts in one flush window + delete in the next.
FIXTURE_ROWS = [
    # rowkey r1 — plain upsert then partial update of one qualifier
    (1, "put", "r1", "info", "c1", "v1", _ts(1)),
    (2, "put", "r1", "info", "c2", "v2", _ts(1, 30)),
    (3, "put", "r1", "info", "c1", "v1b", _ts(2)),
    # rowkey r2 — delete-then-reinsert — only post-delete cells survive
    (4, "put", "r2", "info", "c1", "old", _ts(1)),
    (5, "put", "r2", "info", "c2", "keepme-not", _ts(2)),
    (6, "delete", "r2", None, None, None, _ts(3)),
    (7, "put", "r2", "info", "c1", "new", _ts(4)),
    # rowkey r3 — same qualifier in two families at the same ts — last family in
    # byte order wins (reference #4: HashMap overwrite in NavigableMap
    # iteration order, HbaseDataSyncEsObserver.java:93-102)
    (8, "put", "r3", "fam_a", "c1", "from_a", _ts(5)),
    (9, "put", "r3", "fam_b", "c1", "from_b", _ts(5)),
    # rowkey r4 — out-of-order arrival — older ts arrives later in seq, must lose
    (10, "put", "r4", "info", "c1", "late-but-old", _ts(1)),
    (11, "put", "r4", "info", "c1", "winner", _ts(6)),
    (12, "put", "r4", "info", "c1", "stale", _ts(3)),
    # rowkey r5 — deleted and never reinserted — absent from final state
    (13, "put", "r5", "info", "c1", "gone", _ts(1)),
    (14, "delete", "r5", None, None, None, _ts(7)),
]

# Golden final state for FIXTURE_ROWS (hand-derived; tests assert this).
EXPECTED_STATE = {
    "r1": {"c1": "v1b", "c2": "v2"},
    "r2": {"c1": "new"},
    "r3": {"c1": "from_b"},
    "r4": {"c1": "winner"},
}


def fixture_changefeed(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(FIXTURE_ROWS, CHANGEFEED_SCHEMA)


def events_as_changefeed(events: DataFrame) -> DataFrame:
    """Derive a high-volume changefeed from the events fixture: each event
    becomes a put of qualifier=event_type, value=value; 'error' events
    become whole-row deletes (the tombstone convention used by the CDC
    queries in operators/cdc.py)."""
    is_del = F.col("event_type") == "error"
    return events.select(
        F.col("event_id").alias("seq"),
        F.when(is_del, "delete").otherwise("put").alias("op"),
        F.col("user_id").cast("string").alias("rowkey"),
        F.when(~is_del, F.lit("info")).alias("family"),
        F.when(~is_del, F.col("event_type")).alias("qualifier"),
        F.when(~is_del, F.col("value").cast("string")).alias("value"),
        F.col("ts"),
    )


def write_changefeed_stream_dir(
    cf: DataFrame, path: str, n_files: int = 4
) -> None:
    """Lay a changefeed out as a file-stream source dir whose micro-batch
    order IS seq order.

    The file stream source batches files by modification time, and a
    parallel `repartitionByRange(...).write` commits its part files in
    arbitrary task order — so the stream could consume seq ranges out of
    order, making event-time watermarks jump ahead and drop earlier
    ranges as late input (observed: nondeterministic stream-stream join
    results). Each seq range is therefore written sequentially as a
    single file with a strictly increasing, second-spaced mtime.
    """
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import Window

    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    # ONE Spark job: range-tag rows, co-locate each range in one task via
    # hash repartition on the tag, and let partitionBy split the dirs;
    # ordering is then pure driver-side file surgery (move + utime).
    tmp = f"{path}.tmp"
    (
        cf.withColumn("__f", F.ntile(n_files).over(Window.orderBy("seq")))
        .repartition(n_files, "__f")
        .write.mode("overwrite")
        .partitionBy("__f")
        .parquet(tmp)
    )
    base_t = time.time()
    for i in range(1, n_files + 1):
        parts = sorted(glob.glob(os.path.join(tmp, f"__f={i}", "*.parquet")))
        for j, src in enumerate(parts):
            dst = os.path.join(path, f"{i:05d}_{j}.parquet")
            shutil.move(src, dst)
            os.utime(dst, (base_t + i, base_t + i))
    shutil.rmtree(tmp, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """mkdtemp on the fastest scratch filesystem available: streaming
    checkpoints and fixture feeds are many small synchronous writes, so
    tmpfs (/dev/shm) cuts the fixed per-micro-batch WAL/commit-log cost
    that dominates the streaming-twin queries at small SF. Falls back to
    the default temp dir when /dev/shm is absent OR low on free space
    (tmpfs is typically RAM/2 and checkpoints + cached fixture dirs at
    larger SF can fill it — an ENOSPC mid-drain is strictly worse than a
    slower disk drain). The
    floor is SPARK_GRAFT_SHM_MIN_MB (default 512 MiB), checked with
    statvfs at every call so a tmpfs that filled up mid-process also
    flips later allocations to disk. On a real cluster the checkpoint
    lives on durable shared storage instead — this is a
    local-bench/test concern only."""
    import os
    import tempfile

    shm = "/dev/shm"
    min_free = int(os.environ.get("SPARK_GRAFT_SHM_MIN_MB", "512")) * 2**20
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            free = st.f_bavail * st.f_frsize
        except OSError:
            free = 0
        if free >= min_free:
            return tempfile.mkdtemp(prefix=prefix, dir=shm)
    return tempfile.mkdtemp(prefix=prefix)


# Memo of drained-changefeed fixture dirs: the end-to-end streaming
# queries (stream_static_enrich, stream_put_delete_join,
# cdc_stateful_stream, ...) all replay the SAME events-derived
# changefeed, so the dir is written once per (app, sf_dir, n_files) and
# shared — each query still runs its own full availableNow drain with a
# fresh checkpoint, only the input layout is reused. Eviction removes
# the dir's scratch parent; interpreter exit removes any left over.
def _evict_cf_dir(cf_dir: str) -> None:
    import os as _os
    import shutil as _shutil

    _shutil.rmtree(_os.path.dirname(cf_dir), ignore_errors=True)


_SHARED_CF_DIRS = Memo("shared_changefeed_dirs", on_evict=_evict_cf_dir)


def shared_changefeed_stream_dir(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> str:
    """Path of a memoized micro-batch-ordered changefeed dir derived from
    the ``events`` table at ``sf_dir`` (see write_changefeed_stream_dir).

    ``SPARK_GRAFT_CF_FILES`` overrides ``n_files`` (audit/rehearsal knob:
    a longer-history events fixture needs proportionally more files so
    each micro-batch still covers a constant slice of event time —
    constant watermark cadence — otherwise peak state measures the feed's
    file layout, not the operator's eviction contract). Results are
    file-count independent (module docstring proof in
    operators/stream_queries.py), so the default stays 2."""
    import atexit
    import os
    import shutil as _shutil

    from ..catalog import load_table

    raw_n_files = os.environ.get("SPARK_GRAFT_CF_FILES")
    if raw_n_files is not None:
        try:
            n_files = int(raw_n_files)
        except ValueError as exc:
            raise ValueError(
                f"SPARK_GRAFT_CF_FILES must be an integer, "
                f"got {raw_n_files!r}"
            ) from exc

    def build() -> str:
        base = scratch_dir("shared_cf_")
        atexit.register(_shutil.rmtree, base, ignore_errors=True)
        cf_dir = os.path.join(base, "cf")
        cf = events_as_changefeed(load_table(spark, sf_dir, "events"))
        write_changefeed_stream_dir(cf, cf_dir, n_files=n_files)
        return cf_dir

    cf_dir = _SHARED_CF_DIRS.get(spark, sf_dir, build, n_files)
    if not os.path.isdir(cf_dir):  # removed from outside: write it anew
        _SHARED_CF_DIRS.evict(spark, sf_dir, n_files)
        cf_dir = _SHARED_CF_DIRS.get(spark, sf_dir, build, n_files)
    return cf_dir
