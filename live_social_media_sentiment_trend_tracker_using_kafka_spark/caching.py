"""Persist-with-cleanup convention for operator intermediates.

Several operators persist an intermediate that feeds multiple plan branches
(MinHash signatures, the SRP banded table, prefix-filter indexes, cleaning
tiers, ...). The persist is load-bearing — it is the difference between one
and N full passes over corpus-sized data — but a bare ``df.persist()`` has
no owner: in a long-lived session running many queries the cached blocks
accumulate and only LRU eviction bounds executor memory.

Convention: operators call :func:`tracked_persist` instead of
``DataFrame.persist`` — always, with no per-operator opt-out. Cache
lifetime is owned here, not by the operators: anything that runs many
queries against one session (the driver entrypoint wraps every
``queries()`` callable, ``bench.py``, notebook users) calls :func:`trim`
or :func:`release_all` between queries, and an operator whose
intermediate has a deterministic end-of-life calls :func:`release`.
Unpersisting is always correctness-safe — a released plan silently
recomputes — so the worst case of a missed release stays "slower", never
"wrong".
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (default level) + registration for later release.

    If an identical plan is already cached (``df.storageLevel`` consults
    the cache manager by plan equality), the existing entry is reused
    WITHOUT registering a second handle. Canonical shared tables (shingle,
    fingerprint, per-user reductions, cleaning tiers) are persisted by
    every consumer that builds them; a duplicate handle would burn a
    ``trim()`` window slot, and when trim popped the older duplicate its
    unpersist would drop the shared cache entry out from under the newer
    handle — the table would silently recompute inside the keep window.
    The same check re-persists and re-registers a memoized handle whose
    entry ``trim()`` already evicted.
    """
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    df = df.persist()
    _TRACKED.append(df)
    return df


def release_all() -> int:
    """Unpersist every tracked intermediate; returns how many were released.

    Safe to call at any time: consumers of an unpersisted DataFrame
    recompute its lineage instead of failing.
    """
    return trim(keep=0)


def trim(keep: int = 24) -> int:
    """Release all but the ``keep`` most recent tracked intermediates.

    The bounded-retention policy for many-query sessions: Spark substitutes
    a cached subplan into ANY later query whose logical plan contains it, so
    adjacent queries over the same corpus (tokenize → shingle → signature
    tiers) reuse each other's persisted work — releasing everything between
    queries forfeits that and measurably doubles a full registry sweep,
    while releasing nothing accumulates every intermediate and thrashes the
    block manager once the hot set exceeds storage memory. Keeping a small
    FIFO window preserves the reuse that actually happens (between nearby
    queries) with O(keep) worst-case residency. Unpersisting is always
    correctness-safe — a released plan silently recomputes.
    """
    n = 0
    while len(_TRACKED) > keep:
        df = _TRACKED.pop(0)
        try:
            df.unpersist()
            n += 1
        except Exception:
            # session already stopped — nothing left to release
            pass
    return n


def release(df: DataFrame) -> bool:
    """Unpersist ONE tracked intermediate and drop its handle (identity
    match). For operators that own short-lived intermediates with a
    deterministic end-of-life (e.g. pagerank's degree/vertex tables):
    leaving the dead handle in ``_TRACKED`` burns a ``trim()`` window
    slot and evicts a genuinely live neighbor's cache early."""
    for i, d in enumerate(_TRACKED):
        if d is df:
            _TRACKED.pop(i)
            try:
                df.unpersist()
            except Exception:
                pass
            return True
    return False


def free_local_checkpoint(df: DataFrame | None) -> bool:
    """Free the executor-storage blocks behind a SUPERSEDED
    ``localCheckpoint()`` tier (r10 ADVICE: pagerank accumulated K+1
    checkpointed score tiers until GC). ``DataFrame.unpersist()`` cannot
    reach them — localCheckpoint caches the RDD directly, outside the
    CacheManager — so this walks the analyzed plan (a ``LogicalRDD``
    after checkpointing) to the underlying RDD and unpersists it.

    DESTRUCTIVE by design: a localCheckpointed frame has no lineage to
    recompute from, so the freed frame must never be read again — only
    call on a tier the next tier has already replaced (localCheckpoint
    is eager, so the successor is materialized before the call). Best
    effort: any internals change degrades to the old behavior (blocks
    reclaimed by the ContextCleaner on GC), never an error.
    """
    if df is None:
        return False
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith("LogicalRDD"):
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False
