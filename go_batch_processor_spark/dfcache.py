"""Session-scoped DataFrame cache hygiene for module-level caches.

graph._TRI_CENSUS_CACHE and text._BIGRAM_CB_CACHE memoize NODE-/vocab-sized
localCheckpoint'd frames per (applicationId, fixture dir);
timeseries._MP_ROWS_CACHE holds the matrix-profile family's three driver-side
row lists (profile, AB-join, motif top-k) — plain Python rows, no checkpoint,
so only the first caveat below applies to it. Two caveats this module exists
to manage (r8 ADVICE):

- Entries for STOPPED sessions would otherwise pin dead DataFrames for the
  process lifetime. ``evict_stale`` drops every entry whose applicationId is
  not the caller's current one — in a one-context-per-process world any
  other appId is a stopped (or replaced) context — and is called on every
  cache lookup.
- localCheckpoint blocks live in executor storage, which is NOT reliable
  storage: after an executor loss the cached frame FAILS the job instead of
  recomputing (Spark cannot rebuild truncated lineage). Callers accept that
  trade for the measured win (triangle census 18.5 s -> 0.2 s warm); a
  production deployment that must survive executor loss should swap
  localCheckpoint for reliable checkpoint() on these two frames.

r10 ADVICE: dropping the dict reference does NOT free the checkpoint's
storage blocks — the JVM side holds them until ContextCleaner notices the
Python object is gone, which for a long-lived session cycling many fixture
dirs (the cap's own motivating scenario) can pin node-/vocab-sized blocks
for a long time. Eviction therefore best-effort unpersists the frame
first; unpersist on a stopped session raises, hence the try/except.
"""

from __future__ import annotations


def _drop(cache: dict, key) -> None:
    """Pop ``key`` and best-effort release its checkpoint blocks.

    Cached values are either a DataFrame or a tuple whose DataFrame
    members are each released (the census cache stores (deg, tri_n); the
    matrix-profile cache's row lists have nothing to release and are just
    dropped). DataFrame.unpersist only touches
    CacheManager entries — measured a NO-OP for localCheckpoint'd frames,
    whose blocks belong to the checkpointed RDD inside the plan's
    LogicalRDD leaf; unpersisting THAT rdd frees the blocks immediately
    (getRDDStorageInfo 1 -> 0, probed r10). Both calls are wrapped:
    on a stopped session or a non-LogicalRDD plan they just pass."""
    val = cache.pop(key, None)
    members = val if isinstance(val, tuple) else (val,)
    for m in members:
        if hasattr(m, "unpersist"):
            release(m)


def release(df) -> None:
    """Best-effort unpersist of ``df`` and of the checkpointed RDD under
    its LogicalRDD leaf, if it is a localCheckpoint'd frame (see _drop)."""
    try:
        df.unpersist(blocking=False)
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # stopped session / derived plan / released blocks


def evict_stale(cache: dict, current_app_id: str, cap: int = 8) -> None:
    """Drop cache entries from other (stopped) Spark applications, then cap
    the dict at ``cap`` entries (oldest-inserted first) so a long-lived
    process cycling fixture dirs cannot grow it unboundedly. Cache keys must
    be tuples whose first element is the owning applicationId. Evicted
    frames are unpersisted (non-blocking) so their executor-storage blocks
    free immediately instead of waiting on JVM GC."""
    stale = [k for k in cache if k[0] != current_app_id]
    for k in stale:
        _drop(cache, k)
    while len(cache) > cap:
        _drop(cache, next(iter(cache)))


def clear_all() -> None:
    """Drop every module-level cache (bench standalone honesty: a
    solo-timed sample must not silently reuse a checkpoint or a result
    built during the interleaved pass). Unpersists each DataFrame entry so
    the storage blocks are gone, not merely unreferenced; the
    matrix-profile row lists are simply dropped."""
    from go_batch_processor_spark.operators import graph, text, timeseries

    for cache in (
        graph._TRI_CENSUS_CACHE,
        graph._PIVOT_DIST_CACHE,  # r10: centrality-family shared BFS
        timeseries._MP_ROWS_CACHE,  # matrix-profile family row lists
        text._BIGRAM_CB_CACHE,
    ):
        for k in list(cache):
            _drop(cache, k)
