"""Per-(application, sf_dir) memos with one lifetime policy.

A :class:`Memo` is one named family of memoized intermediates, keyed by
``(applicationId, sf_dir, *extra)``. Operator families use it for the
shared subtrees several registered queries read — the materialized-view
idiom (compute once, read many):

- localCheckpoint'd DataFrames: dedup's shingle / verified-pair /
  LSH-candidate / CC-label tables, the ANN top-k and PQ code tables,
  the BM25 postings and doc-length statistics;
- collected Python lists: the trained coarse-quantizer codebook;
- scratch paths: the drained changefeed fixture dirs;
- catalog table names: the bucketed fact tables;
- per-commit views: a state sink's merged cells, keyed by its root.

An entry may record the ``parent`` it was derived from: another memo's
value, or a version stamp such as a sink's manifest commit. A hit whose
recorded parent is neither the object the caller passes now nor equal
to it is rebuilt, so a derived memo never outlives what it was built
from.

`clear_memos()` bounds their lifetime: dropping the entries releases
the last references to the checkpointed DataFrames, so Spark's
ContextCleaner unpersists their blocks at the next GC, and each memo's
``on_evict`` removes what lives outside Spark's block manager (scratch
dirs, catalog tables). Call it between bench phases or whenever a
long-lived session switches sf_dir. Every memo rebuilds lazily from its
inputs on next use, so clearing is always safe — only the next consumer
pays the rebuild.
"""

from __future__ import annotations

from collections.abc import Callable

_REGISTRY: list[Memo] = []


class Memo:
    """One memo family, registered for `clear_memos` on construction.
    ``on_evict`` is called with each value the memo drops."""

    def __init__(self, name: str, on_evict: Callable | None = None):
        self.name, self._on_evict = name, on_evict
        self._entries: dict[tuple, tuple] = {}  # key -> (parent, value)
        _REGISTRY.append(self)

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, spark, sf_dir: str, build: Callable, *extra, parent=None):
        """The value under ``(app, sf_dir, *extra)``; ``build()`` makes it
        on a miss or when the entry was derived from another ``parent``
        (the replaced value is evicted)."""
        key = (spark.sparkContext.applicationId, sf_dir, *extra)
        hit = self._entries.get(key)
        if hit is not None and (hit[0] is parent or hit[0] == parent):
            return hit[1]
        self._entries[key] = (parent, build())
        if hit is not None:
            self._evict(hit[1])
        return self._entries[key][1]

    def evict(self, spark, sf_dir: str, *extra) -> None:
        """Drop one entry, if present."""
        key = (spark.sparkContext.applicationId, sf_dir, *extra)
        if key in self._entries:
            self._evict(self._entries.pop(key)[1])

    def clear(self) -> int:
        """Drop every entry; returns how many there were."""
        entries, self._entries = self._entries, {}
        for _, value in entries.values():
            self._evict(value)
        return len(entries)

    def _evict(self, value) -> None:
        if self._on_evict is not None:
            self._on_evict(value)


def clear_memos(spark=None) -> dict[str, int]:
    """Drop every registered memo entry; returns {name: n_cleared}.

    If ``spark`` is given, also nudges the JVM GC so ContextCleaner
    releases the now-unreferenced localCheckpoint blocks promptly
    instead of at an arbitrary later collection.
    """
    cleared: dict[str, int] = {}
    for memo in _REGISTRY:
        cleared[memo.name] = cleared.get(memo.name, 0) + memo.clear()
    if spark is not None:
        try:
            spark._jvm.System.gc()  # noqa: SLF001 — prompt block cleanup
        except Exception:  # pragma: no cover — GC nudge is best-effort
            pass
    return cleared
