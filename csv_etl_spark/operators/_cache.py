"""Session-aware bounded cache for operator intermediates, and the
registry that lets one call empty them all.

Operators that stage an expensive intermediate (shingle tables, LSH
bucket projections) persist it and register it here so repeated calls
over the same corpus reuse one materialization; small driver-side values
derived from a plan (the BPE merge table) use the same cache.  Two
failure modes this guards against (ADVICE round 1):

* cached values outliving their SparkSession — keys embed the
  applicationId, and any entry from a different (stopped/recreated)
  session is dropped on the next access;
* unbounded growth — FIFO-bounded; evicted DataFrames are unpersisted,
  other values are just dropped.

Every ``BoundedPersistCache`` adds itself to a module-level registry when
it is constructed, and :func:`clear_all` empties every registered cache
and releases the sharded codebook broadcasts.  Benchmark harnesses call
it between timed passes, so no pass can time a cache hit and no harness
keeps a per-module list that a new cache could be missing from.

``invalidate()`` is the explicit hook for when the underlying data is
rewritten in place (same plan, same semanticHash, different bytes —
semantic hashing cannot see that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_REGISTRY: list[BoundedPersistCache] = []


class BoundedPersistCache:
    def __init__(self, max_entries: int = 8) -> None:
        self._entries: dict[tuple, object] = {}
        self._max = max_entries
        _REGISTRY.append(self)

    @staticmethod
    def key_for(df: DataFrame, *extra) -> tuple | None:
        """(applicationId, semanticHash, *extra) — None when the plan
        cannot be semantically hashed (caller should then skip caching
        AND skip persisting, so nothing leaks untracked)."""
        try:
            app_id = df.sparkSession.sparkContext.applicationId
            return (app_id, df.semanticHash(), *extra)
        except Exception:
            return None

    def get_or_persist(self, df: DataFrame, *tags) -> DataFrame:
        """The get-or-persist idiom every multi-consumer projection uses,
        in one place so no call site can forget the rules: return the
        cached persisted frame for (df's plan, tags); otherwise persist
        MEMORY_AND_DISK, register, and return it.  Untrackable plans
        (key None) pass through UNPERSISTED — persisting without
        registration would leak (the module-docstring hazard)."""
        from pyspark.storagelevel import StorageLevel

        key = self.key_for(df, *tags)
        if key is None:
            return df
        cached = self.get(key)
        if cached is not None:
            return cached
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.put(key, df)
        return df

    def get(self, key: tuple | None):
        if key is None:
            return None
        self._evict_other_sessions(key[0])
        return self._entries.get(key)

    def put(self, key: tuple | None, value) -> None:
        if key is None:
            return
        self._evict_other_sessions(key[0])
        while len(self._entries) >= self._max:
            oldest = next(iter(self._entries))
            self._drop(oldest)
        self._entries[key] = value

    def invalidate(self, key: tuple | None = None, blocking: bool = False) -> None:
        """Drop one entry (or all, when key is None), unpersisting.

        ``blocking=True`` forces the unpersist to complete before
        returning — benchmark harnesses need this, because the default
        async unpersist otherwise runs concurrently with (and contends
        against) whatever is timed next.
        """
        if key is not None:
            self._drop(key, blocking=blocking)
            return
        for k in list(self._entries):
            self._drop(k, blocking=blocking)

    def _evict_other_sessions(self, app_id: str) -> None:
        for k in [k for k in self._entries if k[0] != app_id]:
            # the owning session may already be stopped — unpersist
            # best-effort, always drop the reference
            self._drop(k)

    def _drop(self, key: tuple, blocking: bool = False) -> None:
        value = self._entries.pop(key, None)
        if isinstance(value, DataFrame):
            try:
                value.unpersist(blocking=blocking)
            except Exception:
                pass


# the benchmark's cache walk (perfbench/caches.py) still imports this name
BoundedDriverMemo = BoundedPersistCache


def clear_all() -> None:
    """Empty every registered cache with a blocking unpersist, then
    destroy the sharded codebook broadcasts.  Only safe where no frame an
    operator returned is still to be consumed (between benchmark passes):
    destroyed broadcasts make such a frame unusable."""
    from csv_etl_spark.operators import similarity

    for cache in _REGISTRY:
        cache.invalidate(blocking=True)
    similarity.release_sharded_broadcasts(destroy=True)
