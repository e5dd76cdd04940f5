"""Bookkeeping for persisted intermediates.

Several operators ``persist()`` a shared subtree because Catalyst
re-plans it on both sides of a broadcast boundary (no ReusedExchange),
e.g. the cascade's token assignment or XTR's retrieval set. Spark's
CacheManager holds those entries for the SESSION lifetime — they are
not freed when the Python DataFrame is garbage-collected — so a
long-lived caller (the REST server, a driver loop issuing thousands of
batches) would accumulate one cached dataset per call until storage
memory thrashes.

Builders therefore tag the DataFrame they return with the
intermediates they persisted (``tag_cached``); a caller that has
materialized the result calls ``release(df)`` to unpersist them.
One-shot callers (the correctness driver, ad-hoc notebooks) may skip
release — the leak only matters when calls repeat within one session.
"""
from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Mark ``df`` as SESSION-pinned: a frame owned by a session-level
    cache (queries._session_cached) whose lifetime is the application,
    not one call. ``tag_cached`` never records pinned frames and
    ``release`` never unpersists them — otherwise a caller that
    materializes a result built on a session cache and then releases
    it would silently degrade every later cache hit to a recompute
    (the dict still holds the now-unpersisted frame)."""
    df._lintdb_pinned = True
    return df


def tag_cached(out: DataFrame, *deps: DataFrame) -> DataFrame:
    """Attach persisted intermediates to ``out`` for later release.

    Each dep is either a persisted DataFrame or a carrier whose own
    tags propagate (so ``tag_cached(final, topk)`` after a join keeps
    the chain alive through wrapper returns). Session-pinned deps
    (see ``pin``) are skipped.
    """
    cached = list(getattr(out, "_lintdb_cached", ()))
    bcasts = list(getattr(out, "_lintdb_broadcasts", ()))
    for d in deps:
        cached.extend(getattr(d, "_lintdb_cached", ()))
        bcasts.extend(getattr(d, "_lintdb_broadcasts", ()))
        if getattr(d, "_lintdb_pinned", False):
            continue
        lvl = d.storageLevel
        if lvl.useMemory or lvl.useDisk:
            cached.append(d)
    out._lintdb_cached = tuple(cached)
    if bcasts:
        out._lintdb_broadcasts = tuple(bcasts)
    return out


def tag_broadcasts(out: DataFrame, *bcs) -> DataFrame:
    """Attach per-call Spark broadcast variables to ``out`` so
    ``release`` frees their executor copies too. A long-lived caller
    (the REST server, a driver loop issuing thousands of batches)
    otherwise accumulates one broadcast blob per request — the query
    matrices and centroid blobs the serve UDFs close over. Broadcasts
    owned by a session-level cache (the Index's serve state) must NOT
    be tagged; they are released by the cache's unpersist-on-replace."""
    prev = list(getattr(out, "_lintdb_broadcasts", ()))
    prev.extend(bcs)
    if prev:
        out._lintdb_broadcasts = tuple(prev)
    return out


def release(df: DataFrame) -> None:
    """Unpersist every intermediate cached (and broadcast) while
    building ``df``.

    Call AFTER materializing (collect/write) — unpersisting first just
    forces a recompute, it does not break correctness. Broadcasts are
    unpersist()ed, not destroy()ed: executors drop their copies (the
    memory that matters) but a re-collect of the same frame can still
    lazily refetch from the driver."""
    for c in getattr(df, "_lintdb_cached", ()):
        if not getattr(c, "_lintdb_pinned", False):
            c.unpersist()
    df._lintdb_cached = ()
    for b in getattr(df, "_lintdb_broadcasts", ()):
        try:
            b.unpersist(blocking=False)
        except Exception:  # noqa: BLE001 — best-effort on shutdown paths
            pass
    df._lintdb_broadcasts = ()
